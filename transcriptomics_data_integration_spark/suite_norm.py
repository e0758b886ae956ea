"""Query inventory part 4: normalization kernels (M4/M5/M7/M18) and
the end-to-end expression-matrix pipeline (entry-point A step 4)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from transcriptomics_data_integration_spark.functions.special import fitfdist_prior_ctes_sql

from transcriptomics_data_integration_spark.pipelines.expression import build_expression_matrix
from transcriptomics_data_integration_spark.stats.normalize import (
    array_weights,
    cqn_simplified,
    qc_rle_nuse,
    qc_sample_metrics,
    voom_weights,
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer read-count analogue: summed quantities per
    (gene ~ partkey, sample ~ suppkey) — exact in double."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy(
        F.col("l_partkey").alias("gene_id"), F.col("l_suppkey").alias("sample_id")
    ).agg(F.sum("l_quantity").alias("cnt"))


_COUNTS_CTE = """
counts AS (
  SELECT l_partkey AS gene_id, l_suppkey AS sample_id, SUM(l_quantity) AS cnt
  FROM lineitem GROUP BY 1, 2
), lib AS (
  SELECT sample_id, SUM(cnt) AS lib FROM counts GROUP BY sample_id
), lcpm AS (
  SELECT gene_id, sample_id,
         log2((cnt + 0.5) / (lib + 1.0) * 1.0e6) AS lcpm
  FROM counts JOIN lib USING (sample_id)
)
"""


def q_voom_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5 — voom mean-variance trend + precision weights
    (`DiffExpression_openPlatform.R:427-442`)."""
    counts = _counts(spark, sf_dir)
    out = voom_weights(counts, "gene_id", "sample_id", "cnt", n_bins=20)
    return out.select(
        "gene_id",
        "n_obs",
        "trend_bin",
        F.round("mean_lcpm", 6).alias("mean_lcpm"),
        F.round("sqrt_sd", 6).alias("sqrt_sd"),
        F.round("trend_sqrt_sd", 6).alias("trend_sqrt_sd"),
        F.round("weight", 6).alias("weight"),
    )


ORACLE_VOOM = f"""
WITH {_COUNTS_CTE}, per_gene AS (
  SELECT gene_id, AVG(lcpm) AS mean_lcpm,
         sqrt(sqrt(VAR_SAMP(lcpm))) AS sqrt_sd,
         COUNT(*) AS n_obs
  FROM lcpm GROUP BY gene_id
), ok AS (
  SELECT * FROM per_gene WHERE sqrt_sd IS NOT NULL AND sqrt_sd > 0
), binned AS (
  SELECT *, NTILE(20) OVER (ORDER BY round(mean_lcpm, 9), gene_id) AS trend_bin
  FROM ok
), trend AS (
  SELECT trend_bin, quantile_cont(sqrt_sd, 0.5) AS trend_sqrt_sd
  FROM binned GROUP BY trend_bin
)
SELECT gene_id, n_obs, trend_bin,
       ROUND(mean_lcpm, 6) AS mean_lcpm,
       ROUND(sqrt_sd, 6) AS sqrt_sd,
       ROUND(trend_sqrt_sd, 6) AS trend_sqrt_sd,
       ROUND(POWER(trend_sqrt_sd, -4.0), 6) AS weight
FROM binned JOIN trend USING (trend_bin)
"""


def q_cqn_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 (simplified core) — GC-bin bias offsets removed from
    log2-CPM; per-bin per-sample summary
    (`GenExpressionComb_RNAseq.R:183-201`)."""
    counts = _counts(spark, sf_dir)
    part = _t(spark, sf_dir, "part")
    attrs = part.select(F.col("p_partkey").alias("gene_id"), F.col("p_size").alias("gc"))
    out = cqn_simplified(counts, "gene_id", "sample_id", "cnt", attrs, "gc", n_bins=10)
    return out.groupBy("gc_bin", "sample_id").agg(
        F.count(F.lit(1)).alias("n_genes"),
        F.round(F.avg("lcpm"), 6).alias("avg_lcpm"),
        F.round(F.avg("lcpm_cqn"), 6).alias("avg_lcpm_cqn"),
    )


ORACLE_CQN = f"""
WITH {_COUNTS_CTE}, attrs AS (
  SELECT p_partkey AS gene_id, p_size AS gc FROM part
), bins AS (
  SELECT gene_id, NTILE(10) OVER (ORDER BY gc, gene_id) AS gc_bin FROM attrs
), with_bin AS (
  SELECT l.gene_id, l.sample_id, l.lcpm, b.gc_bin
  FROM lcpm l JOIN bins b ON l.gene_id = b.gene_id
), gmed AS (
  SELECT quantile_cont(lcpm, 0.5) AS gmed FROM with_bin
), bmed AS (
  SELECT gc_bin, quantile_cont(lcpm, 0.5) AS bmed FROM with_bin GROUP BY gc_bin
)
SELECT w.gc_bin, w.sample_id, COUNT(*) AS n_genes,
       ROUND(AVG(w.lcpm), 6) AS avg_lcpm,
       ROUND(AVG(w.lcpm - (b.bmed - g.gmed)), 6) AS avg_lcpm_cqn
FROM with_bin w JOIN bmed b ON w.gc_bin = b.gc_bin CROSS JOIN gmed g
GROUP BY w.gc_bin, w.sample_id
"""


def q_array_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7 — per-sample quality weights
    (`DiffExpression_closedPlatform.R:456-464`)."""
    li = _t(spark, sf_dir, "lineitem")
    df = li.select(
        F.col("l_partkey").alias("gene_id"),
        F.col("l_suppkey").alias("sample_id"),
        F.col("l_extendedprice").alias("value"),
    )
    out = array_weights(df, "gene_id", "sample_id", "value")
    return out.select(
        "sample_id",
        "n_obs",
        F.round("msr", 4).alias("msr"),
        F.round("weight", 6).alias("weight"),
    )


ORACLE_ARRAY_WEIGHTS = """
WITH gm AS (
  SELECT l_partkey, AVG(l_extendedprice) AS m FROM lineitem GROUP BY l_partkey
), resid AS (
  SELECT l_suppkey AS sample_id,
         (l_extendedprice - m) * (l_extendedprice - m) AS r2
  FROM lineitem JOIN gm USING (l_partkey)
), per_sample AS (
  SELECT sample_id, SUM(r2) / COUNT(*) AS msr, COUNT(*) AS n_obs
  FROM resid GROUP BY sample_id HAVING SUM(r2) / COUNT(*) > 0
), mw AS (
  SELECT AVG(1.0e0 / msr) AS m FROM per_sample
)
SELECT sample_id, n_obs,
       ROUND(msr, 4) AS msr,
       ROUND((1.0e0 / msr) / mw.m, 6) AS weight
FROM per_sample CROSS JOIN mw
"""


def q_qc_sample_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M18 — per-sample distribution summaries (QC boxplot data,
    `QC_Affy_U133Plus2.R:122-138`)."""
    li = _t(spark, sf_dir, "lineitem")
    out = qc_sample_metrics(
        li.select(F.col("l_suppkey").alias("sample_id"), F.col("l_extendedprice").alias("v")),
        "sample_id",
        "v",
    )
    return out.select(
        "sample_id",
        "n_obs",
        F.round("q25", 4).alias("q25"),
        F.round("median", 4).alias("median"),
        F.round("q75", 4).alias("q75"),
        F.round("iqr", 4).alias("iqr"),
    )


ORACLE_QC_METRICS = """
SELECT l_suppkey AS sample_id, COUNT(*) AS n_obs,
       ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS q25,
       ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS median,
       ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS q75,
       ROUND(quantile_cont(l_extendedprice, 0.75)
             - quantile_cont(l_extendedprice, 0.25), 4) AS iqr
FROM lineitem GROUP BY l_suppkey
"""


def q_qc_rle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M18 depth (r8) — RLE + NUSE per-sample QC deviations
    (`QC_Affy_U133Plus2.R:133-134`): gene = partkey, sample = suppkey,
    value = extendedprice in CENTS (integer grid, so every interpolated
    quantile and IQR is an exact binary double — multiples of 0.125 —
    and the ROUND boundary can never sit between the engines' halves;
    raw 2-decimal prices put IQRs on .00X25 ROUND half-boundaries and
    flipped 8 samples at sf0.1), SE fabric = discount + 0.01 (strictly
    positive so the gene-median normalizer never divides by zero)."""
    li = _t(spark, sf_dir, "lineitem")
    out = qc_rle_nuse(
        li.select(
            F.col("l_partkey").alias("gene"),
            F.col("l_suppkey").alias("sample_id"),
            (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("v"),
            (F.col("l_discount") + F.lit(0.01)).alias("se"),
        ),
        "gene",
        "sample_id",
        "v",
        se_col="se",
    )
    return out.select(
        "sample_id",
        "n_obs",
        F.round("rle_median", 4).alias("rle_median"),
        F.round("rle_iqr", 4).alias("rle_iqr"),
        F.round("nuse_median", 6).alias("nuse_median"),
        F.round("nuse_q75", 6).alias("nuse_q75"),
    )


ORACLE_QC_RLE = """
WITH cents AS (
  SELECT l_partkey, l_suppkey,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
         l_discount + 0.01 AS se
  FROM lineitem
), gm AS (
  SELECT l_partkey,
         quantile_cont(v, 0.5) AS vmed,
         quantile_cont(se, 0.5) AS smed
  FROM cents GROUP BY l_partkey
), dev AS (
  SELECT c.l_suppkey AS sample_id,
         c.v - g.vmed AS rle,
         c.se / g.smed AS nse
  FROM cents c JOIN gm g USING (l_partkey)
)
SELECT sample_id, COUNT(*) AS n_obs,
       ROUND(quantile_cont(rle, 0.5), 4) AS rle_median,
       ROUND(quantile_cont(rle, 0.75) - quantile_cont(rle, 0.25), 4) AS rle_iqr,
       ROUND(quantile_cont(nse, 0.5), 6) AS nuse_median,
       ROUND(quantile_cont(nse, 0.75), 6) AS nuse_q75
FROM dev GROUP BY sample_id
"""


def q_rna_degradation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M18 depth (r8) — AffyRNAdeg 5'->3' degradation slope
    (`QC_Affy_U133Plus2.R:143-145`): sample = suppkey, probe position
    = linenumber (the fixed 1..7 design), intensity = extendedprice
    in cents (integer grid; the per-position mean is then ONE exact
    division and the slope an explicit literal-coefficient expression
    — no order-sensitive float accumulation anywhere)."""
    from transcriptomics_data_integration_spark.stats.normalize import (
        rna_degradation,
    )

    li = _t(spark, sf_dir, "lineitem")
    out = rna_degradation(
        li.select(
            F.col("l_suppkey").alias("sample_id"),
            F.col("l_linenumber").alias("pos"),
            (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("v"),
        ),
        "sample_id",
        "pos",
        "v",
        positions=[1, 2, 3, 4, 5, 6, 7],
    )
    return out.select(
        "sample_id",
        F.round("mean_1", 6).alias("mean_1"),
        F.round("mean_7", 6).alias("mean_7"),
        F.round("slope", 6).alias("slope"),
        F.round("intercept", 6).alias("intercept"),
        F.round("t_statistic", 4).alias("t_statistic"),
    )


_RNADEG_M = "".join(
    f",\n         SUM(CASE WHEN pos={p} THEN v END)"
    f" / COUNT(CASE WHEN pos={p} THEN v END) AS m{p}" for p in range(1, 8)
)
ORACLE_RNA_DEGRADATION = f"""
WITH cell AS (
  SELECT l_suppkey AS sample_id, l_linenumber AS pos,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
  FROM lineitem
), pm AS (
  SELECT sample_id{_RNADEG_M},
         COUNT(DISTINCT pos) AS np
  FROM cell GROUP BY sample_id
), sl AS (
  SELECT sample_id, m1, m7,
         (7.0 * (1.0*m1 + 2.0*m2 + 3.0*m3 + 4.0*m4 + 5.0*m5 + 6.0*m6 + 7.0*m7)
          - 28.0 * (m1 + m2 + m3 + m4 + m5 + m6 + m7)) / 196.0 AS slope,
         m1 + m2 + m3 + m4 + m5 + m6 + m7 AS sy
  FROM pm WHERE np = 7
), ic AS (
  SELECT sample_id, m1, m7, slope,
         (sy - slope * 28.0) / 7.0 AS intercept
  FROM sl
), pmj AS (
  SELECT i.*, p.m2, p.m3, p.m4, p.m5, p.m6 FROM ic i JOIN pm p USING (sample_id)
), tt AS (
  SELECT sample_id, m1, m7, slope, intercept,
         (m1 - (intercept + slope * 1.0)) * (m1 - (intercept + slope * 1.0))
       + (m2 - (intercept + slope * 2.0)) * (m2 - (intercept + slope * 2.0))
       + (m3 - (intercept + slope * 3.0)) * (m3 - (intercept + slope * 3.0))
       + (m4 - (intercept + slope * 4.0)) * (m4 - (intercept + slope * 4.0))
       + (m5 - (intercept + slope * 5.0)) * (m5 - (intercept + slope * 5.0))
       + (m6 - (intercept + slope * 6.0)) * (m6 - (intercept + slope * 6.0))
       + (m7 - (intercept + slope * 7.0)) * (m7 - (intercept + slope * 7.0)) AS rss
  FROM pmj
)
SELECT sample_id,
       ROUND(m1, 6) AS mean_1,
       ROUND(m7, 6) AS mean_7,
       ROUND(slope, 6) AS slope,
       ROUND(intercept, 6) AS intercept,
       ROUND(slope / sqrt(rss / 5.0 / 28.0), 4) AS t_statistic
FROM tt
"""


def q_expression_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry-point A step 4 end-to-end: target projection, packed-list
    outlier removal, probe->gene map join, argmax-dedup collapse, zero-
    variance filter (`GenExpressionComb_Affy_U133Plus2.R:110-189`)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    sup = _t(spark, sf_dir, "supplier")
    intensities = li.groupBy(
        F.col("l_partkey").cast("string").alias("probe"),
        F.col("l_suppkey").cast("string").alias("sample_id"),
    ).agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("value"))
    targets = sup.where(F.col("s_suppkey") % 7 != 0).select(
        F.col("s_suppkey").cast("string").alias("sample_id")
    )
    outliers = (
        sup.where(F.col("s_suppkey") % 10 == 0)
        .groupBy("s_nationkey")
        .agg(
            F.array_join(
                F.array_sort(F.collect_set(F.col("s_suppkey").cast("string"))), ","
            ).alias("samples2exclude")
        )
    )
    probe_map = part.select(
        F.col("p_partkey").cast("string").alias("probe"), F.col("p_brand").alias("gene_id")
    )
    out = build_expression_matrix(
        intensities, targets, outliers, probe_map, normalize=False
    )
    return out.select("gene_id", "sample_id", "value")


ORACLE_EXPRESSION_PIPELINE = """
WITH cells AS (
  SELECT CAST(l_partkey AS VARCHAR) AS probe, CAST(l_suppkey AS VARCHAR) AS sample_id,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS value
  FROM lineitem GROUP BY 1, 2
), targets AS (
  SELECT CAST(s_suppkey AS VARCHAR) AS sample_id FROM supplier WHERE s_suppkey % 7 <> 0
), excl AS (
  SELECT DISTINCT CAST(s_suppkey AS VARCHAR) AS sample_id FROM supplier WHERE s_suppkey % 10 = 0
), kept AS (
  SELECT * FROM cells
  WHERE sample_id IN (SELECT sample_id FROM targets)
    AND sample_id NOT IN (SELECT sample_id FROM excl)
), mapped AS (
  SELECT k.*, p.p_brand AS gene_id
  FROM kept k JOIN part p ON k.probe = CAST(p.p_partkey AS VARCHAR)
), pvar AS (
  SELECT probe, gene_id, VAR_SAMP(value) AS v
  FROM mapped GROUP BY probe, gene_id
), best AS (
  SELECT probe, gene_id FROM (
    SELECT probe, gene_id,
           ROW_NUMBER() OVER (PARTITION BY gene_id ORDER BY v DESC, probe) AS rn
    FROM pvar
  ) WHERE rn = 1
), collapsed AS (
  SELECT m.gene_id, m.sample_id, m.value
  FROM mapped m JOIN best b ON m.probe = b.probe AND m.gene_id = b.gene_id
), keepg AS (
  SELECT gene_id FROM collapsed GROUP BY gene_id HAVING STDDEV_SAMP(value) > 0
)
SELECT gene_id, sample_id, value FROM collapsed
WHERE gene_id IN (SELECT gene_id FROM keepg)
"""


def q_voom_lowess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5 full fidelity — voom trend via R-exact lowess
    (`DiffExpression_openPlatform.R:427-442`; limma::voom f=0.5) with
    the ~0+group design (`:438-442`): sy is the pooled within-group
    RESIDUAL quarter-root SD, not the raw per-gene SD.  Rows-only:
    lowess is not SQL-expressible; numerics pinned by
    tests/test_lowess.py + tests/test_fidelity.py."""
    from transcriptomics_data_integration_spark.stats.normalize import voom_weights_lowess

    counts = _counts(spark, sf_dir)
    targets = (
        counts.select("sample_id").distinct()
        .withColumn(
            "target",
            F.when(F.col("sample_id") % 2 == 0, "tumor").otherwise("normal"),
        )
    )
    out = voom_weights_lowess(
        counts, "gene_id", "sample_id", "cnt", targets=targets, group_col="target"
    )
    return out.select(
        "gene_id",
        "n_obs",
        F.round("mean_lcpm", 6).alias("mean_lcpm"),
        F.round("sqrt_sd", 6).alias("sqrt_sd"),
        F.round("trend_sqrt_sd", 6).alias("trend_sqrt_sd"),
        F.round("weight", 6).alias("weight"),
    )


def q_cqn_spline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 full fidelity — per-sample robust natural-spline GC bias fit
    (`GenExpressionComb_RNAseq.R:183-201`).  Rows-only (IRLS fit);
    per-sample bias-curve summary keeps the row count bounded."""
    from transcriptomics_data_integration_spark.stats.normalize import cqn_spline

    counts = _counts(spark, sf_dir)
    part = _t(spark, sf_dir, "part")
    attrs = part.select(F.col("p_partkey").alias("gene_id"), F.col("p_size").alias("gc"))
    out = cqn_spline(counts, "gene_id", "sample_id", "cnt", attrs, "gc")
    return out.groupBy("sample_id").agg(
        F.count(F.lit(1)).alias("n_genes"),
        F.round(F.avg("lcpm"), 6).alias("avg_lcpm"),
        F.round(F.avg("lcpm_cqn"), 6).alias("avg_lcpm_cqn"),
        F.round(F.max(F.abs(F.col("lcpm") - F.col("lcpm_cqn"))), 6).alias("max_bias"),
    )


def q_rnaseq_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry-point B end-to-end at FULL fidelity — counts -> spline
    CQN -> floor -> lowess voom weights -> weighted moderated DE -> BH
    (`DiffExpression_openPlatform.R` + `GenExpressionComb_RNAseq.R`,
    SURVEY §3.2).  Rows-only: the stage oracles cover the pieces
    (cqn_bias, voom_trend, weighted_de, moderated_de, diff_expression);
    this gates the composition."""
    from transcriptomics_data_integration_spark.pipelines.rnaseq import (
        rnaseq_differential_expression,
    )

    counts = _counts(spark, sf_dir).withColumnRenamed("cnt", "read_count")
    part = _t(spark, sf_dir, "part")
    attrs = part.select(
        F.col("p_partkey").alias("gene_id"), F.col("p_size").alias("gc_content")
    )
    targets = (
        counts.select("sample_id").distinct()
        .withColumn("target", F.when(F.col("sample_id") % 2 == 0, "tumor").otherwise("normal"))
    )
    out = rnaseq_differential_expression(
        counts, targets, attrs, "tumor", "normal", fidelity="lowess"
    )
    return out.select(
        "gene_id",
        F.round("log2fc", 6).alias("log2fc"),
        F.round("p_value", 8).alias("p_value"),
        F.round("adj_p_value", 8).alias("adj_p_value"),
    )


def q_rnaseq_pipeline_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry-point B end-to-end at BINNED fidelity, HASH-GATED — counts
    -> GC-bin CQN -> low-value floor -> binned voom weights -> weighted
    two-group fit -> eBayes moderation -> BH
    (`DiffExpression_openPlatform.R:427-515` +
    `GenExpressionComb_RNAseq.R:183-264`, SURVEY §3.2).  Every stage is
    closed-form, so unlike the lowess twin the COMPOSITION itself gets
    a full DuckDB oracle (the per-stage oracles cqn_bias / voom_trend /
    weighted_de / moderated_de / diff_expression compose as CTEs)."""
    from transcriptomics_data_integration_spark.pipelines.rnaseq import (
        rnaseq_differential_expression,
    )

    counts = _counts(spark, sf_dir).withColumnRenamed("cnt", "read_count")
    part = _t(spark, sf_dir, "part")
    attrs = part.select(
        F.col("p_partkey").alias("gene_id"), F.col("p_size").alias("gc_content")
    )
    targets = (
        counts.select("sample_id").distinct()
        .withColumn(
            "target",
            F.when(F.col("sample_id") % 2 == 0, "tumor").otherwise("normal"),
        )
    )
    out = rnaseq_differential_expression(
        counts, targets, attrs, "tumor", "normal", fidelity="binned"
    )
    return out.select(
        "gene_id",
        "n_a",
        "n_b",
        F.round("log2fc", 6).alias("log2fc"),
        F.round("t_statistic", 6).alias("t_statistic"),
        F.round("t_moderated", 6).alias("t_moderated"),
        F.round("p_value", 8).alias("p_value"),
        F.round("adj_p_value", 8).alias("adj_p_value"),
    )


def _oracle_rnaseq_binned() -> str:
    from transcriptomics_data_integration_spark.functions.normal import two_sided_p_sql

    p_expr = two_sided_p_sql("t_statistic")
    return f"""
WITH {_COUNTS_CTE}, attrs AS (
  SELECT p_partkey AS gene_id, p_size AS gc FROM part
), gcbins AS (
  SELECT gene_id, NTILE(10) OVER (ORDER BY gc, gene_id) AS gc_bin FROM attrs
), wb AS (
  SELECT l.gene_id, l.sample_id, l.lcpm, b.gc_bin
  FROM lcpm l JOIN gcbins b USING (gene_id)
), gmed AS (
  SELECT quantile_cont(lcpm, 0.5) AS gmed FROM wb
), bmed AS (
  SELECT gc_bin, quantile_cont(lcpm, 0.5) AS bmed FROM wb GROUP BY gc_bin
), floored AS (
  SELECT w.gene_id, w.sample_id,
         CASE WHEN w.lcpm - (b.bmed - g.gmed) < 2.0 THEN 0.0
              ELSE w.lcpm - (b.bmed - g.gmed) END AS v
  FROM wb w JOIN bmed b USING (gc_bin) CROSS JOIN gmed g
), per_gene AS (
  SELECT gene_id, AVG(lcpm) AS mean_lcpm,
         sqrt(sqrt(VAR_SAMP(lcpm))) AS sqrt_sd
  FROM lcpm GROUP BY gene_id
), ok AS (
  SELECT * FROM per_gene WHERE sqrt_sd IS NOT NULL AND sqrt_sd > 0
), vbinned AS (
  SELECT *, NTILE(20) OVER (ORDER BY round(mean_lcpm, 9), gene_id) AS trend_bin
  FROM ok
), trend AS (
  SELECT trend_bin, quantile_cont(sqrt_sd, 0.5) AS trend_sqrt_sd
  FROM vbinned GROUP BY trend_bin
), wts AS (
  SELECT gene_id, POWER(trend_sqrt_sd, -4.0) AS w
  FROM vbinned JOIN trend USING (trend_bin)
), targets AS (
  SELECT DISTINCT sample_id,
         CASE WHEN sample_id % 2 = 0 THEN 'tumor' ELSE 'normal' END AS grp
  FROM counts
), fact AS (
  SELECT f.gene_id, t.grp, f.v AS value, w.w
  FROM floored f JOIN targets t USING (sample_id) JOIN wts w USING (gene_id)
), agg AS (
  SELECT gene_id,
         COUNT(CASE WHEN grp = 'tumor' THEN w END) AS n_a,
         COUNT(CASE WHEN grp = 'normal' THEN w END) AS n_b,
         SUM(CASE WHEN grp = 'tumor' THEN w END) AS swa,
         SUM(CASE WHEN grp = 'normal' THEN w END) AS swb,
         SUM(CASE WHEN grp = 'tumor' THEN w * w END) AS swa2,
         SUM(CASE WHEN grp = 'normal' THEN w * w END) AS swb2,
         SUM(CASE WHEN grp = 'tumor' THEN w * value END) AS swxa,
         SUM(CASE WHEN grp = 'normal' THEN w * value END) AS swxb,
         SUM(CASE WHEN grp = 'tumor' THEN w * value * value END) AS swx2a,
         SUM(CASE WHEN grp = 'normal' THEN w * value * value END) AS swx2b
  FROM fact GROUP BY gene_id
  HAVING COUNT(CASE WHEN grp = 'tumor' THEN w END) >= 2
     AND COUNT(CASE WHEN grp = 'normal' THEN w END) >= 2
), mm AS (
  SELECT gene_id, n_a, n_b,
         swxa / swa AS mean_a, swxb / swb AS mean_b,
         ((swx2a - (swxa / swa) * (swxa / swa) * swa)
          + (swx2b - (swxb / swb) * (swxb / swb) * swb))
         / ((swa - swa2 / swa) + (swb - swb2 / swb)) AS s2,
         swa, swb
  FROM agg
), t0 AS (
  SELECT gene_id, n_a, n_b, mean_a, mean_b, s2,
         n_a + n_b - 2 AS dfree,
         sqrt(s2 * (1.0e0 / swa + 1.0e0 / swb)) AS se
  FROM mm
), tt AS (
  SELECT gene_id, n_a, n_b, s2, dfree,
         mean_a - mean_b AS log2fc,
         (mean_a - mean_b) / se AS t_statistic
  FROM t0 WHERE se > 0
), de AS (
  SELECT *, {p_expr} AS p_value FROM tt
), s2t AS (
  SELECT s2, CAST(dfree AS DOUBLE) AS df FROM de
), {fitfdist_prior_ctes_sql("s2t")}, mod AS (
  SELECT de.*,
         t_statistic * sqrt(s2 /
           (CASE WHEN isinf(d0) THEN s20
                 ELSE (d0 * s20 + dfree * s2) / (d0 + dfree) END))
           AS t_moderated
  FROM de CROSS JOIN ff_prior2
), b AS (
  SELECT *,
         ROW_NUMBER() OVER (ORDER BY p_value, gene_id) AS rnk,
         COUNT(*) OVER () AS nn
  FROM mod
), adj AS (
  SELECT *,
         MIN(LEAST(p_value * nn / rnk, 1.0e0)) OVER (
           ORDER BY p_value DESC, gene_id DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS adj_p_value
  FROM b
)
SELECT gene_id, n_a, n_b,
       ROUND(log2fc, 6) AS log2fc,
       ROUND(t_statistic, 6) AS t_statistic,
       ROUND(t_moderated, 6) AS t_moderated,
       ROUND(p_value, 8) AS p_value,
       ROUND(adj_p_value, 8) AS adj_p_value
FROM adj
"""


def q_closed_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry-point A end-to-end, HASH-GATED — expression cells ->
    closed-form batch adjustment (location centering, ComBat's location
    step) -> F5 top-variance filter -> pooled t -> eBayes moderation ->
    BH -> decideTests sign matrix
    (`DiffExpression_closedPlatform.R:368-633`, SURVEY §3.1 step 6).
    Companion to `rnaseq_pipeline_binned` (entry-point B): with
    `batch_adjust="center"` and decimal-exact moments (F5 ranking +
    pooled-t), the COMPOSITION is fully SQL-expressible, so the chain
    gets one end-to-end DuckDB oracle instead of only per-stage gates.
    The EB-prior ComBat twin stays rows-only (`combat_full`)."""
    from transcriptomics_data_integration_spark.pipelines.diffexpr import (
        differential_expression,
    )

    li = _t(spark, sf_dir, "lineitem").where(F.col("l_partkey") <= 300)
    cells = li.groupBy(
        F.col("l_partkey").alias("gene_id"), F.col("l_suppkey").alias("sample_id")
    ).agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("value")
    )
    targets = cells.select("sample_id").distinct().select(
        "sample_id",
        F.when(F.col("sample_id") % 2 == 0, "tumor").otherwise("normal").alias("target"),
        F.concat(F.lit("d"), (F.col("sample_id") % 3).cast("string")).alias("dataset"),
    )
    out = differential_expression(
        cells, targets, "tumor", "normal",
        top_k_genes=150, batch_adjust="center", exact_scale=2, alpha=0.05,
    )
    return out.select(
        "gene_id",
        "n_a",
        "n_b",
        F.round("log2fc", 6).alias("log2fc"),
        F.round("t_statistic", 6).alias("t_statistic"),
        F.round("t_moderated", 6).alias("t_moderated"),
        F.round("p_value", 8).alias("p_value"),
        F.round("adj_p_value", 8).alias("adj_p_value"),
        "decide",
    )


def _oracle_closed_pipeline() -> str:
    from transcriptomics_data_integration_spark.functions.normal import two_sided_p_sql

    p_expr = two_sided_p_sql("t_statistic")
    dsum = "CAST(SUM(CAST({x} AS DECIMAL(18,2))) AS DOUBLE)"
    dsum2 = (
        "CAST(SUM(CAST(CAST({x} AS DECIMAL(18,2)) * CAST({x} AS DECIMAL(18,2))"
        " AS DECIMAL(38,4))) AS DOUBLE)"
    )
    return f"""
WITH cells AS (
  SELECT l_partkey AS gene_id, l_suppkey AS sample_id,
         {dsum.format(x='l_extendedprice')} AS v
  FROM lineitem WHERE l_partkey <= 300 GROUP BY 1, 2
), lab AS (
  SELECT gene_id, sample_id, v,
         CASE WHEN sample_id % 2 = 0 THEN 'tumor' ELSE 'normal' END AS grp,
         sample_id % 3 AS b
  FROM cells
), per_gb AS (
  SELECT gene_id, b, {dsum.format(x='v')} AS s_gb, COUNT(v) AS n_gb
  FROM lab GROUP BY gene_id, b
), per_g AS (
  SELECT gene_id, {dsum.format(x='v')} AS s_g, COUNT(v) AS n_g
  FROM lab GROUP BY gene_id
), adjv AS (
  SELECT l.gene_id, l.sample_id, l.grp,
         FLOOR((l.v - gb.s_gb / gb.n_gb + g.s_g / g.n_g) * 100.0 + 0.5) / 100.0 AS v
  FROM lab l
  JOIN per_gb gb ON l.gene_id = gb.gene_id AND l.b = gb.b
  JOIN per_g g ON l.gene_id = g.gene_id
), mom AS (
  SELECT gene_id, COUNT(v) AS n,
         {dsum.format(x='v')} AS s, {dsum2.format(x='v')} AS s2
  FROM adjv GROUP BY gene_id HAVING COUNT(v) >= 2
), sdv AS (
  SELECT gene_id, sqrt((s2 - s * s / n) / (n - 1)) AS sd FROM mom
), keep AS (
  SELECT gene_id FROM (
    SELECT gene_id, ROW_NUMBER() OVER (ORDER BY sd DESC, gene_id) AS rn FROM sdv
  ) WHERE rn <= 150
), kept AS (
  SELECT * FROM adjv WHERE gene_id IN (SELECT gene_id FROM keep)
), agg AS (
  SELECT gene_id,
         COUNT(CASE WHEN grp = 'tumor' THEN 1 END) AS n_a,
         COUNT(CASE WHEN grp = 'normal' THEN 1 END) AS n_b,
         {dsum.format(x="CASE WHEN grp = 'tumor' THEN v END")} AS sa,
         {dsum.format(x="CASE WHEN grp = 'normal' THEN v END")} AS sb,
         {dsum2.format(x="CASE WHEN grp = 'tumor' THEN v END")} AS sa2,
         {dsum2.format(x="CASE WHEN grp = 'normal' THEN v END")} AS sb2
  FROM kept GROUP BY gene_id
  HAVING COUNT(CASE WHEN grp = 'tumor' THEN 1 END) >= 2
     AND COUNT(CASE WHEN grp = 'normal' THEN 1 END) >= 2
), m AS (
  SELECT gene_id, n_a, n_b,
         sa / n_a AS mean_a, sb / n_b AS mean_b,
         (sa2 - sa * sa / n_a) / (n_a - 1) AS var_a,
         (sb2 - sb * sb / n_b) / (n_b - 1) AS var_b
  FROM agg
), t0 AS (
  SELECT *,
         mean_a - mean_b AS log2fc,
         ((n_a - 1) * var_a + (n_b - 1) * var_b) / (n_a + n_b - 2) AS s2p,
         n_a + n_b - 2 AS dfree,
         sqrt((((n_a - 1) * var_a + (n_b - 1) * var_b) / (n_a + n_b - 2))
              * (1.0e0 / n_a + 1.0e0 / n_b)) AS se
  FROM m
), tt AS (
  SELECT gene_id, n_a, n_b, log2fc, s2p, dfree,
         (mean_a - mean_b) / se AS t_statistic
  FROM t0 WHERE se > 0
), de AS (
  SELECT *, {p_expr} AS p_value FROM tt
), s2t AS (
  SELECT s2p AS s2, CAST(dfree AS DOUBLE) AS df FROM de
), {fitfdist_prior_ctes_sql("s2t")}, moder AS (
  SELECT de.*,
         t_statistic * sqrt(s2p /
           (CASE WHEN isinf(d0) THEN s20
                 ELSE (d0 * s20 + dfree * s2p) / (d0 + dfree) END))
           AS t_moderated
  FROM de CROSS JOIN ff_prior2
), bh0 AS (
  SELECT *,
         ROW_NUMBER() OVER (ORDER BY p_value, gene_id) AS rnk,
         COUNT(*) OVER () AS nn
  FROM moder
), adj AS (
  SELECT *,
         MIN(LEAST(p_value * nn / rnk, 1.0e0)) OVER (
           ORDER BY p_value DESC, gene_id DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS adj_p_value
  FROM bh0
)
SELECT gene_id, n_a, n_b,
       ROUND(log2fc, 6) AS log2fc,
       ROUND(t_statistic, 6) AS t_statistic,
       ROUND(t_moderated, 6) AS t_moderated,
       ROUND(p_value, 8) AS p_value,
       ROUND(adj_p_value, 8) AS adj_p_value,
       CAST(CASE WHEN adj_p_value > 0.05 THEN 0
                 ELSE CAST(SIGN(log2fc) AS INTEGER) END AS INTEGER) AS decide
FROM adj
"""


def q_normalized_de(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry-point C end-to-end, HASH-GATED — already-normalized matrix
    with planted missing cells -> gene-list restriction -> per-gene
    mean imputation (M16) -> F5 -> pooled t -> eBayes -> BH ->
    decideTests (`DiffExpression_normalisedData.R:96-499`, SURVEY
    §3.3).  Completes the set: all three reference entry points (A:
    `closed_pipeline`, B: `rnaseq_pipeline_binned`, C: this) now gate
    their COMPOSITIONS, not just their stages."""
    from transcriptomics_data_integration_spark.pipelines.diffexpr import (
        normalized_matrix_de,
    )

    li = _t(spark, sf_dir, "lineitem").where(F.col("l_partkey") <= 300)
    cells = li.groupBy(
        F.col("l_partkey").alias("gene_id"), F.col("l_suppkey").alias("sample_id")
    ).agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("value")
    ).withColumn(
        "value",
        F.when((F.col("gene_id") + F.col("sample_id")) % 7 == 0, F.lit(None)).otherwise(
            F.col("value")
        ),
    )
    part = _t(spark, sf_dir, "part")
    restrict = part.where(F.col("p_size") % 4 != 0).select(
        F.col("p_partkey").alias("gene_id")
    )
    targets = cells.select("sample_id").distinct().select(
        "sample_id",
        F.when(F.col("sample_id") % 2 == 0, "tumor").otherwise("normal").alias("target"),
    )
    out = normalized_matrix_de(
        cells, targets, "tumor", "normal",
        restrict_genes=restrict, top_k_genes=120, exact_scale=2,
    )
    return out.select(
        "gene_id",
        "n_a",
        "n_b",
        F.round("log2fc", 6).alias("log2fc"),
        F.round("t_statistic", 6).alias("t_statistic"),
        F.round("t_moderated", 6).alias("t_moderated"),
        F.round("p_value", 8).alias("p_value"),
        F.round("adj_p_value", 8).alias("adj_p_value"),
        "decide",
    )


def _oracle_normalized_de() -> str:
    from transcriptomics_data_integration_spark.functions.normal import two_sided_p_sql

    p_expr = two_sided_p_sql("t_statistic")
    dsum = "CAST(SUM(CAST({x} AS DECIMAL(18,2))) AS DOUBLE)"
    dsum2 = (
        "CAST(SUM(CAST(CAST({x} AS DECIMAL(18,2)) * CAST({x} AS DECIMAL(18,2))"
        " AS DECIMAL(38,4))) AS DOUBLE)"
    )
    return f"""
WITH cells0 AS (
  SELECT l_partkey AS gene_id, l_suppkey AS sample_id,
         {dsum.format(x='l_extendedprice')} AS v
  FROM lineitem WHERE l_partkey <= 300 GROUP BY 1, 2
), cells AS (
  SELECT gene_id, sample_id,
         CASE WHEN (gene_id + sample_id) % 7 = 0 THEN NULL ELSE v END AS v
  FROM cells0
), restricted AS (
  SELECT * FROM cells
  WHERE gene_id IN (SELECT p_partkey FROM part WHERE p_size % 4 <> 0)
), per_gene AS (
  SELECT gene_id, {dsum.format(x='v')} / COUNT(v) AS fill
  FROM restricted GROUP BY gene_id HAVING COUNT(v) > 0
), fillv AS (
  SELECT r.gene_id, r.sample_id,
         FLOOR(COALESCE(r.v, g.fill) * 100.0 + 0.5) / 100.0 AS v
  FROM restricted r JOIN per_gene g USING (gene_id)
), lab AS (
  SELECT gene_id, sample_id, v,
         CASE WHEN sample_id % 2 = 0 THEN 'tumor' ELSE 'normal' END AS grp
  FROM fillv
), mom AS (
  SELECT gene_id, COUNT(v) AS n,
         {dsum.format(x='v')} AS s, {dsum2.format(x='v')} AS s2
  FROM lab GROUP BY gene_id HAVING COUNT(v) >= 2
), sdv AS (
  SELECT gene_id, sqrt((s2 - s * s / n) / (n - 1)) AS sd FROM mom
), keep AS (
  SELECT gene_id FROM (
    SELECT gene_id, ROW_NUMBER() OVER (ORDER BY sd DESC, gene_id) AS rn FROM sdv
  ) WHERE rn <= 120
), kept AS (
  SELECT * FROM lab WHERE gene_id IN (SELECT gene_id FROM keep)
), agg AS (
  SELECT gene_id,
         COUNT(CASE WHEN grp = 'tumor' THEN 1 END) AS n_a,
         COUNT(CASE WHEN grp = 'normal' THEN 1 END) AS n_b,
         {dsum.format(x="CASE WHEN grp = 'tumor' THEN v END")} AS sa,
         {dsum.format(x="CASE WHEN grp = 'normal' THEN v END")} AS sb,
         {dsum2.format(x="CASE WHEN grp = 'tumor' THEN v END")} AS sa2,
         {dsum2.format(x="CASE WHEN grp = 'normal' THEN v END")} AS sb2
  FROM kept GROUP BY gene_id
  HAVING COUNT(CASE WHEN grp = 'tumor' THEN 1 END) >= 2
     AND COUNT(CASE WHEN grp = 'normal' THEN 1 END) >= 2
), m AS (
  SELECT gene_id, n_a, n_b,
         sa / n_a AS mean_a, sb / n_b AS mean_b,
         (sa2 - sa * sa / n_a) / (n_a - 1) AS var_a,
         (sb2 - sb * sb / n_b) / (n_b - 1) AS var_b
  FROM agg
), t0 AS (
  SELECT *,
         mean_a - mean_b AS log2fc,
         ((n_a - 1) * var_a + (n_b - 1) * var_b) / (n_a + n_b - 2) AS s2p,
         n_a + n_b - 2 AS dfree,
         sqrt((((n_a - 1) * var_a + (n_b - 1) * var_b) / (n_a + n_b - 2))
              * (1.0e0 / n_a + 1.0e0 / n_b)) AS se
  FROM m
), tt AS (
  SELECT gene_id, n_a, n_b, log2fc, s2p, dfree,
         (mean_a - mean_b) / se AS t_statistic
  FROM t0 WHERE se > 0
), de AS (
  SELECT *, {p_expr} AS p_value FROM tt
), s2t AS (
  SELECT s2p AS s2, CAST(dfree AS DOUBLE) AS df FROM de
), {fitfdist_prior_ctes_sql("s2t")}, moder AS (
  SELECT de.*,
         t_statistic * sqrt(s2p /
           (CASE WHEN isinf(d0) THEN s20
                 ELSE (d0 * s20 + dfree * s2p) / (d0 + dfree) END))
           AS t_moderated
  FROM de CROSS JOIN ff_prior2
), bh0 AS (
  SELECT *,
         ROW_NUMBER() OVER (ORDER BY p_value, gene_id) AS rnk,
         COUNT(*) OVER () AS nn
  FROM moder
), adj AS (
  SELECT *,
         MIN(LEAST(p_value * nn / rnk, 1.0e0)) OVER (
           ORDER BY p_value DESC, gene_id DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS adj_p_value
  FROM bh0
)
SELECT gene_id, n_a, n_b,
       ROUND(log2fc, 6) AS log2fc,
       ROUND(t_statistic, 6) AS t_statistic,
       ROUND(t_moderated, 6) AS t_moderated,
       ROUND(p_value, 8) AS p_value,
       ROUND(adj_p_value, 8) AS adj_p_value,
       CAST(CASE WHEN adj_p_value > 0.05 THEN 0
                 ELSE CAST(SIGN(log2fc) AS INTEGER) END AS INTEGER) AS decide
FROM adj
"""


QUERIES_NORM = {
    "voom_trend": q_voom_trend,
    "closed_pipeline": q_closed_pipeline,
    "normalized_de": q_normalized_de,
    "voom_lowess": q_voom_lowess,
    "rnaseq_pipeline": q_rnaseq_pipeline,
    "rnaseq_pipeline_binned": q_rnaseq_pipeline_binned,
    "cqn_bias": q_cqn_bias,
    "cqn_spline": q_cqn_spline,
    "array_weights": q_array_weights,
    "qc_sample_metrics": q_qc_sample_metrics,
    "qc_rle": q_qc_rle,
    "rna_degradation": q_rna_degradation,
    "expression_pipeline": q_expression_pipeline,
}

ORACLES_NORM = {
    "voom_trend": ORACLE_VOOM,
    "closed_pipeline": _oracle_closed_pipeline(),
    "normalized_de": _oracle_normalized_de(),
    "rnaseq_pipeline_binned": _oracle_rnaseq_binned(),
    "cqn_bias": ORACLE_CQN,
    "array_weights": ORACLE_ARRAY_WEIGHTS,
    "qc_sample_metrics": ORACLE_QC_METRICS,
    "qc_rle": ORACLE_QC_RLE,
    "rna_degradation": ORACLE_RNA_DEGRADATION,
    "expression_pipeline": ORACLE_EXPRESSION_PIPELINE,
}


def q_weighted_de(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7+M8 — arrayWeights-fed weighted two-group fit
    (`DiffExpression_closedPlatform.R:456-474`, lmFit weights)."""
    from transcriptomics_data_integration_spark.stats.ttest import weighted_two_group_ttest

    li = _t(spark, sf_dir, "lineitem")
    fact = li.select(
        F.col("l_partkey").alias("gene_id"),
        F.col("l_suppkey").alias("sample_id"),
        F.col("l_returnflag").alias("grp"),
        F.col("l_extendedprice").alias("value"),
    )
    w = array_weights(fact, "gene_id", "sample_id", "value").select(
        "sample_id", "weight"
    )
    weighted = fact.join(F.broadcast(w), "sample_id")
    out = weighted_two_group_ttest(weighted, "gene_id", "grp", "value", "weight", "R", "A")
    return out.select(
        "gene_id",
        "n_a",
        "n_b",
        F.round("mean_a", 4).alias("mean_a"),
        F.round("mean_b", 4).alias("mean_b"),
        F.round("t_statistic", 6).alias("t_statistic"),
        F.round("p_value", 8).alias("p_value"),
    )


ORACLE_WEIGHTED_DE = None  # filled below (needs the normal-p formula)


def q_dataset_group_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — per-dataset group means pivoted wide
    (`Study_effect.R:284-298` cross-study scatter data)."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_linestatus").isin(["O", "F"]))
    dec = F.col("l_extendedprice").cast("decimal(18,2)")
    wide = (
        li.groupBy(F.col("l_partkey").alias("gene_id"))
        .pivot("l_linestatus", ["O", "F"])
        .agg((F.sum(dec).cast("double") / F.count(F.lit(1))).alias("m"))
    )
    return wide.select(
        "gene_id", F.col("O").alias("mean_o"), F.col("F").alias("mean_f")
    )


ORACLE_DATASET_GROUP_MEANS = """
SELECT l_partkey AS gene_id,
       CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE)
         / COUNT(CASE WHEN l_linestatus = 'O' THEN 1 END) AS mean_o,
       CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE)
         / COUNT(CASE WHEN l_linestatus = 'F' THEN 1 END) AS mean_f
FROM lineitem WHERE l_linestatus IN ('O', 'F')
GROUP BY l_partkey
"""


def _oracle_weighted_de() -> str:
    from transcriptomics_data_integration_spark.functions.normal import two_sided_p_sql

    p_expr = two_sided_p_sql("t_statistic")
    return f"""
WITH gm AS (
  SELECT l_partkey, AVG(l_extendedprice) AS m FROM lineitem GROUP BY l_partkey
), resid AS (
  SELECT l_suppkey AS sample_id,
         (l_extendedprice - m) * (l_extendedprice - m) AS r2
  FROM lineitem JOIN gm USING (l_partkey)
), per_sample AS (
  SELECT sample_id, SUM(r2) / COUNT(*) AS msr
  FROM resid GROUP BY sample_id HAVING SUM(r2) / COUNT(*) > 0
), mw AS (
  SELECT AVG(1.0e0 / msr) AS m FROM per_sample
), wtab AS (
  SELECT sample_id, (1.0e0 / msr) / mw.m AS w FROM per_sample CROSS JOIN mw
), fact AS (
  SELECT l_partkey AS gene_id, l_returnflag AS grp, l_extendedprice AS value, w
  FROM lineitem JOIN wtab ON l_suppkey = wtab.sample_id
  WHERE l_returnflag IN ('R', 'A')
), agg AS (
  SELECT gene_id,
         COUNT(CASE WHEN grp = 'R' THEN w END) AS n_a,
         COUNT(CASE WHEN grp = 'A' THEN w END) AS n_b,
         SUM(CASE WHEN grp = 'R' THEN w END) AS swa,
         SUM(CASE WHEN grp = 'A' THEN w END) AS swb,
         SUM(CASE WHEN grp = 'R' THEN w * w END) AS swa2,
         SUM(CASE WHEN grp = 'A' THEN w * w END) AS swb2,
         SUM(CASE WHEN grp = 'R' THEN w * value END) AS swxa,
         SUM(CASE WHEN grp = 'A' THEN w * value END) AS swxb,
         SUM(CASE WHEN grp = 'R' THEN w * value * value END) AS swx2a,
         SUM(CASE WHEN grp = 'A' THEN w * value * value END) AS swx2b
  FROM fact GROUP BY gene_id
  HAVING COUNT(CASE WHEN grp = 'R' THEN w END) >= 2
     AND COUNT(CASE WHEN grp = 'A' THEN w END) >= 2
), m AS (
  SELECT gene_id, n_a, n_b,
         swxa / swa AS mean_a, swxb / swb AS mean_b,
         ((swx2a - (swxa / swa) * (swxa / swa) * swa)
          + (swx2b - (swxb / swb) * (swxb / swb) * swb))
         / ((swa - swa2 / swa) + (swb - swb2 / swb)) AS var_pooled,
         swa, swb
  FROM agg
), t0 AS (
  SELECT gene_id, n_a, n_b, mean_a, mean_b,
         sqrt(var_pooled * (1.0e0 / swa + 1.0e0 / swb)) AS se
  FROM m
), tt AS (
  SELECT gene_id, n_a, n_b, mean_a, mean_b,
         (mean_a - mean_b) / se AS t_statistic
  FROM t0 WHERE se > 0
)
SELECT gene_id, n_a, n_b,
       ROUND(mean_a, 4) AS mean_a,
       ROUND(mean_b, 4) AS mean_b,
       ROUND(t_statistic, 6) AS t_statistic,
       ROUND({p_expr}, 8) AS p_value
FROM tt
"""


QUERIES_NORM.update(
    {
        "weighted_de": q_weighted_de,
        "dataset_group_means": q_dataset_group_means,
    }
)
ORACLES_NORM.update(
    {
        "weighted_de": _oracle_weighted_de(),
        "dataset_group_means": ORACLE_DATASET_GROUP_MEANS,
    }
)


def q_combat_eb2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6 parametric EB, HASH-GATED — ComBat with a fixed two-step EB
    schedule (`stats/combat.py:combat_eb_fixed`): decimal fact moments,
    standardized-moment identities, tick-quantized priors, unrolled
    fixed point, per-row adjust — the whole sva pipeline re-expressed
    engine-exactly (`DiffExpression_closedPlatform.R:372-437`; the
    converge-to-tolerance Arrow solver stays rows-only as
    ``combat_full``, matching this kernel to ~1e-6 at high n_iter)."""
    from transcriptomics_data_integration_spark.stats.combat import combat_eb_fixed

    li = _t(spark, sf_dir, "lineitem").where(F.col("l_partkey") <= 120)
    cells = li.groupBy(
        F.col("l_partkey").alias("gene_id"),
        (F.col("l_suppkey") % 60).alias("sample_id"),
    ).agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("value")
    ).withColumn(
        "batch", F.concat(F.lit("b"), (F.col("sample_id") % 3).cast("string"))
    )
    out = combat_eb_fixed(
        cells, "gene_id", "sample_id", "batch", "value", n_iter=2, exact_scale=2
    )
    return out.select(
        "gene_id", "sample_id", "batch", F.round("value", 6).alias("value")
    )


def _oracle_combat_eb2(n_iter: int = 2) -> str:
    dsum = "SUM(CAST({x} AS DECIMAL(18,2)))"
    dsum2 = (
        "SUM(CAST(CAST({x} AS DECIMAL(18,2)) * CAST({x} AS DECIMAL(18,2))"
        " AS DECIMAL(38,4)))"
    )
    n = "CAST(n_gb AS DOUBLE)"
    parts = [f"""
WITH cells AS (
  SELECT l_partkey AS gene_id, l_suppkey % 60 AS sample_id,
         CAST({dsum.format(x='l_extendedprice')} AS DOUBLE) AS v
  FROM lineitem WHERE l_partkey <= 120 GROUP BY 1, 2
), cb AS (
  SELECT *, 'b' || CAST(sample_id % 3 AS VARCHAR) AS batch FROM cells
), pgb AS (
  SELECT gene_id, batch, COUNT(v) AS n_gb,
         {dsum.format(x='v')} AS sxd,
         {dsum2.format(x='v')} AS sx2d
  FROM cb GROUP BY 1, 2
), pg AS (
  SELECT gene_id, CAST(SUM(sxd) AS DOUBLE) AS sxg, SUM(n_gb) AS n_g
  FROM pgb GROUP BY 1
), gb AS (
  SELECT gene_id, batch, n_gb, CAST(sxd AS DOUBLE) AS sx,
         CAST(sx2d AS DOUBLE) AS sx2
  FROM pgb
), vpt AS (
  SELECT gene_id,
         CAST(FLOOR((sx2 - sx * sx / n_gb) * 1e4 + 0.5) AS DECIMAL(38,0)) AS t
  FROM gb
), vp AS (
  SELECT v.gene_id, p.sxg / p.n_g AS gm,
         CAST(SUM(v.t) AS DOUBLE) / 1e4 / p.n_g AS vp
  FROM vpt v JOIN pg p USING (gene_id)
  GROUP BY v.gene_id, p.sxg, p.n_g
  HAVING CAST(SUM(v.t) AS DOUBLE) / 1e4 / p.n_g > 0
), st AS (
  SELECT g.gene_id, g.batch, g.n_gb, vp.gm, vp.vp,
         (g.sx - g.n_gb * vp.gm) / sqrt(vp.vp) AS s_sum,
         (g.sx2 - 2.0 * vp.gm * g.sx + g.n_gb * vp.gm * vp.gm) / vp.vp AS s_sum2
  FROM gb g JOIN vp USING (gene_id)
  WHERE g.n_gb >= 2
), st2 AS (
  SELECT *, s_sum / n_gb AS g_hat,
         (s_sum2 - s_sum * s_sum / n_gb) / (n_gb - 1) AS d_hat
  FROM st
), st3 AS (
  SELECT *, FLOOR(g_hat * 1e6 + 0.5) AS gq, FLOOR(d_hat * 1e6 + 0.5) AS dq
  FROM st2 WHERE d_hat > 0
), pr AS (
  SELECT batch, COUNT(*) AS G,
         CAST(SUM(CAST(gq AS DECIMAL(18,0))) AS DOUBLE) AS sg,
         CAST(SUM(CAST(CAST(gq AS DECIMAL(18,0)) * CAST(gq AS DECIMAL(18,0))
              AS DECIMAL(38,0))) AS DOUBLE) AS sg2,
         CAST(SUM(CAST(dq AS DECIMAL(18,0))) AS DOUBLE) AS sd,
         CAST(SUM(CAST(CAST(dq AS DECIMAL(18,0)) * CAST(dq AS DECIMAL(18,0))
              AS DECIMAL(38,0))) AS DOUBLE) AS sd2
  FROM st3 GROUP BY 1
), pr2 AS (
  SELECT batch,
         sg / G / 1e6 AS gbar,
         CASE WHEN G > 1 THEN (sg2 - sg * sg / G) / (G - 1) / 1e12
              ELSE 1.0 END AS t2,
         sd / G / 1e6 AS m,
         CASE WHEN G > 1 THEN (sd2 - sd * sd / G) / (G - 1) / 1e12
              ELSE 1.0 END AS vv
  FROM pr
), pr3 AS (
  SELECT batch, gbar, t2,
         CASE WHEN vv > 0 THEN (2.0 * vv + m * m) / vv ELSE 2.0 END AS aprior,
         CASE WHEN vv > 0 THEN (m * vv + m * m * m) / vv ELSE m END AS bprior
  FROM pr2
), it0 AS (
  SELECT s.*, p.gbar, p.t2, p.aprior, p.bprior, s.d_hat AS d_cur
  FROM st3 s JOIN pr3 p USING (batch)
)"""]
    prev = "it0"
    for i in range(1, n_iter + 1):
        excl = "gq, dq" if i == 1 else "g_cur"
        parts.append(f""", ga{i} AS (
  SELECT * EXCLUDE ({excl}),
         ({n} * t2 * g_hat + d_cur * gbar) / ({n} * t2 + d_cur) AS g_cur
  FROM {prev}
), da{i} AS (
  SELECT * EXCLUDE (d_cur),
         (0.5 * (s_sum2 - 2.0 * g_cur * s_sum + {n} * g_cur * g_cur) + bprior)
         / ({n} / 2.0 + aprior - 1.0) AS d_cur
  FROM ga{i}
)""")
        prev = f"da{i}"
    parts.append(f"""
SELECT c.gene_id, c.sample_id, c.batch,
       ROUND(((c.v - e.gm) / sqrt(e.vp) - e.g_cur) / sqrt(e.d_cur)
             * sqrt(e.vp) + e.gm, 6) AS value
FROM cb c JOIN {prev} e ON c.gene_id = e.gene_id AND c.batch = e.batch
""")
    return "".join(parts)


QUERIES_NORM["combat_eb2"] = q_combat_eb2
ORACLES_NORM["combat_eb2"] = _oracle_combat_eb2()


def q_voom_loess2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5 fixed twin, HASH-GATED — the lowess trend as a binned
    tricube local-linear smoother with one global bandwidth
    (`stats/fixed_twins.py:voom_loess_fixed`); the data-sized work of
    `voom_lowess` (per-gene moment pass, bin compression, weighted
    solves) under a full DuckDB oracle, mirroring the combat_eb2
    pattern (r3 verdict item 6)."""
    from transcriptomics_data_integration_spark.stats.fixed_twins import (
        voom_loess_fixed,
    )

    counts = _counts(spark, sf_dir)
    out = voom_loess_fixed(counts, "gene_id", "sample_id", "cnt", n_bins=64)
    return out.select(
        "gene_id",
        "n_obs",
        F.round("mean_lcpm", 6).alias("mean_lcpm"),
        F.round("sqrt_sd", 6).alias("sqrt_sd"),
        F.round("trend_sqrt_sd", 6).alias("trend_sqrt_sd"),
        F.round("weight", 6).alias("weight"),
    )


def _oracle_voom_loess2() -> str:
    tri = (
        "(CASE WHEN h <= 0.0e0 THEN 1.0e0"
        " WHEN abs(x - cb) / h < 1.0e0 THEN"
        " (1.0e0 - (abs(x - cb) / h) * (abs(x - cb) / h) * (abs(x - cb) / h))"
        " * (1.0e0 - (abs(x - cb) / h) * (abs(x - cb) / h) * (abs(x - cb) / h))"
        " * (1.0e0 - (abs(x - cb) / h) * (abs(x - cb) / h) * (abs(x - cb) / h))"
        " ELSE 0.0e0 END)"
    )
    return f"""
WITH {_COUNTS_CTE}, per_gene AS (
  SELECT gene_id, AVG(lcpm) AS mean_lcpm,
         sqrt(sqrt(VAR_SAMP(lcpm))) AS sqrt_sd,
         COUNT(*) AS n_obs
  FROM lcpm GROUP BY gene_id
), ok AS (
  SELECT *, ROUND(mean_lcpm, 9) AS x, ROUND(sqrt_sd, 9) AS y
  FROM per_gene WHERE sqrt_sd IS NOT NULL AND sqrt_sd > 0
), ranked AS (
  SELECT *, NTILE(64) OVER (ORDER BY x, gene_id) AS bin,
         ROUND((MAX(x) OVER () - MIN(x) OVER ()) / 2.0e0, 9) AS h
  FROM ok
), bins AS (
  SELECT bin, ROUND(AVG(x), 9) AS cb, COUNT(*) AS nb,
         ROUND(SUM(x), 9) AS bsx, ROUND(SUM(y), 9) AS bsy,
         ROUND(SUM(x * y), 9) AS bsxy, ROUND(SUM(x * x), 9) AS bsxx
  FROM ranked GROUP BY bin
), pairs AS (
  SELECT r.gene_id, r.x, r.mean_lcpm, r.sqrt_sd, r.n_obs,
         ROUND({tri}, 9) AS tw, b.nb, b.bsx, b.bsy, b.bsxy, b.bsxx
  FROM ranked r CROSS JOIN bins b
), mom AS (
  SELECT gene_id, x, mean_lcpm, sqrt_sd, n_obs,
         SUM(tw * nb) AS sw, SUM(tw * bsx) AS swx, SUM(tw * bsy) AS swy,
         SUM(tw * bsxx) AS swxx, SUM(tw * bsxy) AS swxy
  FROM pairs GROUP BY gene_id, x, mean_lcpm, sqrt_sd, n_obs
), fit AS (
  SELECT *, sw * swxx - swx * swx AS _den FROM mom
), tr AS (
  SELECT gene_id, n_obs, mean_lcpm, sqrt_sd,
         CASE WHEN _den > 1.0e-12 THEN
           (swy - ((sw * swxy - swx * swy) / _den) * swx) / sw
           + ((sw * swxy - swx * swy) / _den) * x
         ELSE swy / sw END AS trend_sqrt_sd
  FROM fit
)
SELECT gene_id, n_obs,
       ROUND(mean_lcpm, 6) AS mean_lcpm,
       ROUND(sqrt_sd, 6) AS sqrt_sd,
       ROUND(trend_sqrt_sd, 6) AS trend_sqrt_sd,
       ROUND(POWER(trend_sqrt_sd, -4.0), 6) AS weight
FROM tr WHERE trend_sqrt_sd > 0
"""


def q_voom_loess3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5 fixed twin with ONE lowess robustifying pass, HASH-GATED —
    bisquare reweighting off the pass-1 residuals (delta = 6 *
    median|r|) and a refit over rw-weighted bin moments
    (`stats/fixed_twins.py:voom_loess_robust_fixed`).  Bounds the twin
    family around the R-exact rows-only `voom_lowess` (which runs R's
    full iter=3 schedule): 0-step (`voom_loess2`) and 1-step (this)
    are both fully oracled, so a regression in the robust machinery
    cannot hide behind the rows-only gate (r4 verdict item 7)."""
    from transcriptomics_data_integration_spark.stats.fixed_twins import (
        voom_loess_robust_fixed,
    )

    counts = _counts(spark, sf_dir)
    out = voom_loess_robust_fixed(counts, "gene_id", "sample_id", "cnt", n_bins=64)
    return out.select(
        "gene_id",
        "n_obs",
        F.round("mean_lcpm", 6).alias("mean_lcpm"),
        F.round("sqrt_sd", 6).alias("sqrt_sd"),
        F.round("trend_sqrt_sd", 6).alias("trend_sqrt_sd"),
        F.round("weight", 6).alias("weight"),
    )


def _oracle_voom_loess3() -> str:
    tri = (
        "(CASE WHEN h <= 0.0e0 THEN 1.0e0"
        " WHEN abs(x - cb) / h < 1.0e0 THEN"
        " (1.0e0 - (abs(x - cb) / h) * (abs(x - cb) / h) * (abs(x - cb) / h))"
        " * (1.0e0 - (abs(x - cb) / h) * (abs(x - cb) / h) * (abs(x - cb) / h))"
        " * (1.0e0 - (abs(x - cb) / h) * (abs(x - cb) / h) * (abs(x - cb) / h))"
        " ELSE 0.0e0 END)"
    )
    trend1 = (
        "CASE WHEN _den > 1.0e-12 THEN"
        " (swy - ((sw * swxy - swx * swy) / _den) * swx) / sw"
        " + ((sw * swxy - swx * swy) / _den) * x"
        " ELSE swy / sw END"
    )
    return f"""
WITH {_COUNTS_CTE}, per_gene AS (
  SELECT gene_id, AVG(lcpm) AS mean_lcpm,
         sqrt(sqrt(VAR_SAMP(lcpm))) AS sqrt_sd,
         COUNT(*) AS n_obs
  FROM lcpm GROUP BY gene_id
), ok AS (
  SELECT *, ROUND(mean_lcpm, 9) AS x, ROUND(sqrt_sd, 9) AS y
  FROM per_gene WHERE sqrt_sd IS NOT NULL AND sqrt_sd > 0
), ranked AS (
  SELECT *, NTILE(64) OVER (ORDER BY x, gene_id) AS bin,
         ROUND((MAX(x) OVER () - MIN(x) OVER ()) / 2.0e0, 9) AS h
  FROM ok
), bins AS (
  SELECT bin, ROUND(AVG(x), 9) AS cb, COUNT(*) AS nb,
         ROUND(SUM(x), 9) AS bsx, ROUND(SUM(y), 9) AS bsy,
         ROUND(SUM(x * y), 9) AS bsxy, ROUND(SUM(x * x), 9) AS bsxx
  FROM ranked GROUP BY bin
), pairs AS (
  SELECT r.gene_id, r.bin, r.x, r.y, r.mean_lcpm, r.sqrt_sd, r.n_obs, r.h,
         ROUND({tri}, 9) AS tw, b.nb, b.bsx, b.bsy, b.bsxy, b.bsxx
  FROM ranked r CROSS JOIN bins b
), mom1 AS (
  SELECT gene_id, bin, x, y, mean_lcpm, sqrt_sd, n_obs, h,
         SUM(tw * nb) AS sw, SUM(tw * bsx) AS swx, SUM(tw * bsy) AS swy,
         SUM(tw * bsxx) AS swxx, SUM(tw * bsxy) AS swxy
  FROM pairs GROUP BY gene_id, bin, x, y, mean_lcpm, sqrt_sd, n_obs, h
), fit1 AS (
  SELECT gene_id, bin, x, y, mean_lcpm, sqrt_sd, n_obs, h,
         ROUND(y - ROUND({trend1}, 9), 9) AS r
  FROM (SELECT *, sw * swxx - swx * swx AS _den FROM mom1)
), dl AS (
  SELECT ROUND(6.0e0 * quantile_cont(abs(r), 0.5e0), 9) AS delta FROM fit1
), rob AS (
  SELECT f.*, ROUND(
    CASE WHEN delta <= 0.0e0 THEN 1.0e0
         WHEN abs(r) / delta < 1.0e0 THEN
           (1.0e0 - (r / delta) * (r / delta)) * (1.0e0 - (r / delta) * (r / delta))
         ELSE 0.0e0 END, 9) AS rw
  FROM fit1 f CROSS JOIN dl
), bins2 AS (
  SELECT g.bin, ROUND(SUM(rw), 9) AS nb2,
         ROUND(SUM(rw * x), 9) AS bsx2, ROUND(SUM(rw * y), 9) AS bsy2,
         ROUND(SUM(rw * x * y), 9) AS bsxy2, ROUND(SUM(rw * x * x), 9) AS bsxx2,
         ANY_VALUE(b.cb) AS cb
  FROM rob g JOIN bins b ON g.bin = b.bin
  GROUP BY g.bin
), pairs2 AS (
  SELECT g.gene_id, g.x, g.y, g.mean_lcpm, g.sqrt_sd, g.n_obs, g.h,
         ROUND({tri.replace("cb", "b.cb")}, 9) AS tw,
         b.nb2, b.bsx2, b.bsy2, b.bsxy2, b.bsxx2
  FROM rob g CROSS JOIN bins2 b
), mom2 AS (
  SELECT gene_id, x, y, mean_lcpm, sqrt_sd, n_obs,
         SUM(tw * nb2) AS sw, SUM(tw * bsx2) AS swx, SUM(tw * bsy2) AS swy,
         SUM(tw * bsxx2) AS swxx, SUM(tw * bsxy2) AS swxy
  FROM pairs2 GROUP BY gene_id, x, y, mean_lcpm, sqrt_sd, n_obs
), tr AS (
  SELECT gene_id, n_obs, mean_lcpm, sqrt_sd,
         CASE WHEN _den > 1.0e-12 THEN
           (swy - ((sw * swxy - swx * swy) / _den) * swx) / sw
           + ((sw * swxy - swx * swy) / _den) * x
         WHEN sw > 0.0e0 THEN swy / sw
         ELSE y END AS trend_sqrt_sd
  FROM (SELECT *, sw * swxx - swx * swx AS _den FROM mom2)
)
SELECT gene_id, n_obs,
       ROUND(mean_lcpm, 6) AS mean_lcpm,
       ROUND(sqrt_sd, 6) AS sqrt_sd,
       ROUND(trend_sqrt_sd, 6) AS trend_sqrt_sd,
       ROUND(POWER(trend_sqrt_sd, -4.0), 6) AS weight
FROM tr WHERE trend_sqrt_sd > 0
"""


def q_cqn_irls2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 fixed twin, HASH-GATED — per-sample GC spline fit with a
    FIXED 2-step Huber IRLS (OLS -> MAD reweight -> weighted refit) on
    a 3-knot natural-spline basis, fully relational
    (`stats/fixed_twins.py:cqn_irls2_fixed`); gates `cqn_spline`'s
    data-sized work under a full DuckDB oracle (r3 verdict item 6).
    Output shape mirrors q_cqn_spline's per-sample summary."""
    from transcriptomics_data_integration_spark.stats.fixed_twins import (
        cqn_irls2_fixed,
    )

    counts = _counts(spark, sf_dir)
    part = _t(spark, sf_dir, "part")
    attrs = part.select(F.col("p_partkey").alias("gene_id"), F.col("p_size").alias("gc"))
    out = cqn_irls2_fixed(counts, "gene_id", "sample_id", "cnt", attrs, "gc")
    return out.groupBy("sample_id").agg(
        F.count(F.lit(1)).alias("n_genes"),
        F.round(F.avg("lcpm"), 6).alias("avg_lcpm"),
        F.round(F.avg("lcpm_cqn"), 6).alias("avg_lcpm_cqn"),
        F.round(F.max(F.abs(F.col("lcpm") - F.col("lcpm_cqn"))), 6).alias("max_bias"),
    )


def _oracle_cqn_irls2() -> str:
    from transcriptomics_data_integration_spark.stats.fixed_twins import (
        _HUBER_K,
        _MAD_SIGMA,
        cramer3_sql,
        ns_basis_n1_sql,
    )

    n1 = ns_basis_n1_sql("xs", "kap1", "kap3")
    it1_names = {k: "s" + k[1:] for k in
                 ["sw", "swx", "swn", "swxx", "swxn", "swnn", "swy", "swxy", "swny"]}
    det1, b0_1, b1_1, b2_1 = cramer3_sql(it1_names)
    it2_names = {k: "t" + k[1:] for k in
                 ["sw", "swx", "swn", "swxx", "swxn", "swnn", "swy", "swxy", "swny"]}
    det2, b0_2, b1_2, b2_2 = cramer3_sql(it2_names)
    return f"""
WITH {_COUNTS_CTE}, attrs AS (
  SELECT p_partkey AS gene_id, CAST(p_size AS DOUBLE) AS gc FROM part
), kn AS (
  SELECT ROUND(quantile_cont(gc, 0.25), 6) AS k1,
         ROUND(quantile_cont(gc, 0.5), 6) AS k2,
         ROUND(quantile_cont(gc, 0.75), 6) AS k3
  FROM attrs
), basis AS (
  SELECT gene_id, gc,
         CASE WHEN k3 > k1 AND k3 > k2 THEN (gc - k2) / (k3 - k1) END AS xs,
         CASE WHEN k3 > k1 AND k3 > k2 THEN (k1 - k2) / (k3 - k1) END AS kap1,
         CASE WHEN k3 > k1 AND k3 > k2 THEN (k3 - k2) / (k3 - k1) END AS kap3
  FROM attrs CROSS JOIN kn
), basis2 AS (
  SELECT gene_id, gc, xs, {n1} AS n1 FROM basis
), cells AS (
  SELECT l.gene_id, l.sample_id, l.lcpm, b.gc, b.xs, b.n1
  FROM lcpm l JOIN basis2 b ON l.gene_id = b.gene_id
), m1 AS (
  SELECT sample_id,
         SUM(1.0e0) AS sw, SUM(xs) AS swx, SUM(n1) AS swn,
         SUM(xs * xs) AS swxx, SUM(xs * n1) AS swxn, SUM(n1 * n1) AS swnn,
         SUM(lcpm) AS swy, SUM(xs * lcpm) AS swxy, SUM(n1 * lcpm) AS swny
  FROM cells GROUP BY sample_id
), d1 AS (
  SELECT *, {det1} AS _det FROM m1
), it1 AS (
  SELECT sample_id, ROUND({b0_1}, 9) AS b0, ROUND({b1_1}, 9) AS b1,
         ROUND({b2_1}, 9) AS b2
  FROM d1 WHERE abs(_det) > 1.0e-12
), wr AS (
  SELECT c.*, c.lcpm - (i.b0 + i.b1 * c.xs + i.b2 * c.n1) AS r
  FROM cells c JOIN it1 i USING (sample_id)
), wmed AS (
  SELECT *, quantile_cont(r, 0.5) OVER (PARTITION BY sample_id) AS _rmed
  FROM wr
), wmad AS (
  SELECT *, ROUND(quantile_cont(abs(r - _rmed), 0.5)
                    OVER (PARTITION BY sample_id) * {_MAD_SIGMA}, 9) AS _mad
  FROM wmed
), ww AS (
  SELECT *, ROUND(CASE WHEN _mad <= 0.0e0 THEN 1.0e0
                       WHEN abs(r) / _mad <= {_HUBER_K} THEN 1.0e0
                       ELSE {_HUBER_K} * _mad / abs(r) END, 6) AS w2
  FROM wmad
), m2 AS (
  SELECT sample_id,
         SUM(w2) AS tw, SUM(w2 * xs) AS twx, SUM(w2 * n1) AS twn,
         SUM(w2 * xs * xs) AS twxx, SUM(w2 * xs * n1) AS twxn,
         SUM(w2 * n1 * n1) AS twnn,
         SUM(w2 * lcpm) AS twy, SUM(w2 * xs * lcpm) AS twxy,
         SUM(w2 * n1 * lcpm) AS twny
  FROM ww GROUP BY sample_id
), d2 AS (
  SELECT *, {det2} AS _det FROM m2
), it2 AS (
  SELECT sample_id, ROUND({b0_2}, 9) AS b0, ROUND({b1_2}, 9) AS b1,
         ROUND({b2_2}, 9) AS b2
  FROM d2 WHERE abs(_det) > 1.0e-12
), fitted AS (
  SELECT c.gene_id, c.sample_id, c.lcpm,
         i.b0 + i.b1 * c.xs + i.b2 * c.n1 AS fit2
  FROM cells c JOIN it2 i USING (sample_id)
), centered AS (
  SELECT *, ROUND(quantile_cont(fit2, 0.5)
                    OVER (PARTITION BY sample_id), 9) AS _fmed
  FROM fitted
)
SELECT sample_id, COUNT(*) AS n_genes,
       ROUND(AVG(lcpm), 6) AS avg_lcpm,
       ROUND(AVG(lcpm - (fit2 - _fmed)), 6) AS avg_lcpm_cqn,
       ROUND(MAX(abs(fit2 - _fmed)), 6) AS max_bias
FROM centered GROUP BY sample_id
"""


QUERIES_NORM.update(
    {
        "voom_loess2": q_voom_loess2,
        "voom_loess3": q_voom_loess3,
        "cqn_irls2": q_cqn_irls2,
    }
)
ORACLES_NORM.update(
    {
        "voom_loess2": _oracle_voom_loess2(),
        "voom_loess3": _oracle_voom_loess3(),
        "cqn_irls2": _oracle_cqn_irls2(),
    }
)
