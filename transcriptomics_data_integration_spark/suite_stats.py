"""Query inventory part 3: batch correction, integrative correlation,
permutation FDR, multivariate QC, stratified correlation, enrichment
(SURVEY.md M6/A12/A14/M17/A11/A17) — each with a DuckDB oracle.

FP policy: cells and moments accumulate in DECIMAL (bitwise-identical);
only profile-correlation averages, Mahalanobis sums and p-values (which
sum/transform irrational intermediates) are rounded.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from transcriptomics_data_integration_spark.functions.normal import two_sided_p_sql
from transcriptomics_data_integration_spark.stats.combat import batch_mean_center
from transcriptomics_data_integration_spark.stats.enrichment import enrichment_chi2
from transcriptomics_data_integration_spark.stats.icc import icc
from transcriptomics_data_integration_spark.stats.permutation import permutation_fdr
from transcriptomics_data_integration_spark.stats.ttest import two_group_ttest


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


_DSUM = "CAST(SUM(CAST({x} AS DECIMAL(18,2))) AS DOUBLE)"
_DSUM2 = (
    "CAST(SUM(CAST(CAST({x} AS DECIMAL(18,2)) * CAST({x} AS DECIMAL(18,2)) "
    "AS DECIMAL(38,4))) AS DOUBLE)"
)

_TOP_GENES_CTE = f"""
gstats AS (
  SELECT l_partkey,
         {_DSUM.format(x='l_extendedprice')} AS s,
         {_DSUM2.format(x='l_extendedprice')} AS s2,
         COUNT(*) AS n
  FROM lineitem GROUP BY l_partkey HAVING COUNT(*) >= 2
), topg AS (
  SELECT l_partkey,
         ROW_NUMBER() OVER (
           ORDER BY sqrt((s2 - s * s / n) / (n - 1)) DESC, l_partkey) AS rn
  FROM gstats
)
"""


def _top_genes(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    agg = (
        li.groupBy("l_partkey")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("s"),
            F.sum(
                (
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * F.col("l_extendedprice").cast("decimal(18,2)")
                ).cast("decimal(38,4)")
            )
            .cast("double")
            .alias("s2"),
            F.count(F.lit(1)).alias("n"),
        )
        .where(F.col("n") >= 2)
        .withColumn(
            "sd",
            F.sqrt((F.col("s2") - F.col("s") * F.col("s") / F.col("n")) / (F.col("n") - 1)),
        )
    )
    w = Window.orderBy(F.col("sd").desc(), F.col("l_partkey"))
    return agg.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k).select("l_partkey")


def q_batch_center(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6 (closed-form core) — location-only batch adjustment:
    x - batch_mean_g + weighted grand_mean_g, exact decimal moments
    (`DiffExpression_closedPlatform.R:368-437`)."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_partkey") <= 100)
    adjusted = batch_mean_center(
        li, "l_partkey", "l_linestatus", "l_extendedprice", exact_scale=2
    )
    return adjusted.select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_linestatus",
        F.col("l_extendedprice").alias("adjusted"),
    )


ORACLE_BATCH_CENTER = f"""
WITH li AS (
  SELECT * FROM lineitem WHERE l_partkey <= 100
), per_gb AS (
  SELECT l_partkey, l_linestatus,
         {_DSUM.format(x='l_extendedprice')} AS s_gb,
         COUNT(l_extendedprice) AS n_gb
  FROM li GROUP BY l_partkey, l_linestatus
), per_g AS (
  SELECT l_partkey,
         {_DSUM.format(x='l_extendedprice')} AS s_g,
         COUNT(l_extendedprice) AS n_g
  FROM li GROUP BY l_partkey
)
SELECT l_orderkey, l_linenumber, li.l_partkey, li.l_linestatus,
       l_extendedprice - s_gb / n_gb + s_g / n_g AS adjusted
FROM li
JOIN per_gb ON li.l_partkey = per_gb.l_partkey AND li.l_linestatus = per_gb.l_linestatus
JOIN per_g ON li.l_partkey = per_g.l_partkey
"""


def q_icc_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 — integrative correlation over the (O, F) platform pair on
    the top-40-variance genes (`Meta_analysis.R:312-347`)."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_linestatus").isin(["O", "F"]))
    genes = _top_genes(spark, sf_dir, 40)
    # sample key bucketed mod 100: keeps the gene x sample cell matrix
    # dense at every SF (raw suppkey goes sparse at sf >= 0.1 and the
    # pairwise-correlation intersections empty out)
    cells = (
        li.join(F.broadcast(genes), "l_partkey")
        .groupBy(
            F.col("l_linestatus").alias("platform"),
            F.col("l_partkey").alias("gene_id"),
            (F.col("l_suppkey") % 100).alias("sample_id"),
        )
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("value"))
    )
    out = icc(cells, ["F", "O"], exact_scale=2)
    # ``+ 0.0`` after the final round normalizes IEEE-754 negative zero
    # (-0.0 + 0.0 == +0.0) so a tiny negative correlation that rounds to
    # zero hashes identically on Spark and the DuckDB oracle.
    return out.select(
        "gene_id", "n_pairs", (F.round("icc", 6) + F.lit(0.0)).alias("icc")
    )


ORACLE_ICC = f"""
WITH {_TOP_GENES_CTE}, cells AS (
  SELECT l_linestatus AS platform, l_partkey AS gene_id, l_suppkey % 100 AS sample_id,
         {_DSUM.format(x='l_extendedprice')} AS value
  FROM lineitem
  WHERE l_linestatus IN ('O', 'F')
    AND l_partkey IN (SELECT l_partkey FROM topg WHERE rn <= 40)
  GROUP BY 1, 2, 3
), pairs AS (
  SELECT a.platform, a.gene_id AS g, b.gene_id AS h,
         COUNT(*) AS n,
         {_DSUM.format(x='a.value')} AS sx,
         {_DSUM.format(x='b.value')} AS sy,
         CAST(SUM(CAST(CAST(a.value AS DECIMAL(18,2)) * CAST(b.value AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS sxy,
         {_DSUM2.format(x='a.value')} AS sx2,
         {_DSUM2.format(x='b.value')} AS sy2
  FROM cells a JOIN cells b
    ON a.platform = b.platform AND a.sample_id = b.sample_id AND a.gene_id <> b.gene_id
  GROUP BY 1, 2, 3
), rr AS (
  SELECT platform, g, h,
         (n * sxy - sx * sy) /
         (sqrt(n * sx2 - sx * sx) * sqrt(n * sy2 - sy * sy)) AS r
  FROM pairs
  WHERE (n * sx2 - sx * sx) > 0 AND (n * sy2 - sy * sy) > 0
), prof AS (
  SELECT a.g, COUNT(*) AS n,
         SUM(a.r) AS sx, SUM(b.r) AS sy, SUM(a.r * b.r) AS sxy,
         SUM(a.r * a.r) AS sx2, SUM(b.r * b.r) AS sy2
  FROM (SELECT * FROM rr WHERE platform = 'F') a
  JOIN (SELECT * FROM rr WHERE platform = 'O') b ON a.g = b.g AND a.h = b.h
  GROUP BY a.g
)
SELECT g AS gene_id, CAST(1 AS BIGINT) AS n_pairs,
       ROUND((n * sxy - sx * sy) /
             (sqrt(n * sx2 - sx * sx) * sqrt(n * sy2 - sy * sy)), 6) + 0.0 AS icc
FROM prof
WHERE (n * sx2 - sx * sx) > 0 AND (n * sy2 - sy * sy) > 0
"""


def q_icc_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 ORACLED approximation tier (r7): the same ICC as `icc_meta`
    but with each gene's correlation profile restricted to the
    deterministic md5-hashed HALF of partner genes
    (`stats/icc.py:_pair_corr_moments(partner_frac=0.5)`), which cuts
    the quadratic pair work in proportion to the fraction.  The partner
    subset is SQL-replayable, so this tier hash-matches a DuckDB oracle
    end-to-end."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_linestatus").isin(["F", "O"]))
    genes = _top_genes(spark, sf_dir, 40)
    cells = (
        li.join(F.broadcast(genes), "l_partkey")
        .groupBy(
            F.col("l_linestatus").alias("platform"),
            F.col("l_partkey").alias("gene_id"),
            (F.col("l_suppkey") % 100).alias("sample_id"),
        )
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("value"))
    )
    out = icc(cells, ["F", "O"], exact_scale=2, partner_frac=0.5)
    return out.select(
        "gene_id", "n_pairs", (F.round("icc", 6) + F.lit(0.0)).alias("icc")
    )


# 0.5 * 2^60 — the partner-subset threshold, mirrored from
# _pair_corr_moments(partner_frac=0.5).  The profile stage replays the
# engine's tick-quantized order-independent mode (ticks = FLOOR(r*1e9
# + 0.5), exact integer moments — HUGEINT here, DECIMAL(38,0) on the
# Spark side; identical values, both cast to DOUBLE only at the final
# ratio) so 2-partner profiles with ~1e-18 radicands can't flip sign
# between engines' float summation orders.
_ICC_PARTNER_HALF = 576460752303423488

ORACLE_ICC_SAMPLED = f"""
WITH {_TOP_GENES_CTE}, cells AS (
  SELECT l_linestatus AS platform, l_partkey AS gene_id, l_suppkey % 100 AS sample_id,
         {_DSUM.format(x='l_extendedprice')} AS value
  FROM lineitem
  WHERE l_linestatus IN ('O', 'F')
    AND l_partkey IN (SELECT l_partkey FROM topg WHERE rn <= 40)
  GROUP BY 1, 2, 3
), pairs AS (
  SELECT a.platform, a.gene_id AS g, b.gene_id AS h,
         COUNT(*) AS n,
         {_DSUM.format(x='a.value')} AS sx,
         {_DSUM.format(x='b.value')} AS sy,
         CAST(SUM(CAST(CAST(a.value AS DECIMAL(18,2)) * CAST(b.value AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS sxy,
         {_DSUM2.format(x='a.value')} AS sx2,
         {_DSUM2.format(x='b.value')} AS sy2
  FROM cells a JOIN cells b
    ON a.platform = b.platform AND a.sample_id = b.sample_id AND a.gene_id <> b.gene_id
   AND ('0x' || substring(md5('icc-partner#' || CAST(b.gene_id AS VARCHAR)), 1, 15))::BIGINT < {_ICC_PARTNER_HALF}
  GROUP BY 1, 2, 3
), rr AS (
  SELECT platform, g, h,
         (n * sxy - sx * sy) /
         (sqrt(n * sx2 - sx * sx) * sqrt(n * sy2 - sy * sy)) AS r
  FROM pairs
  WHERE (n * sx2 - sx * sx) > 0 AND (n * sy2 - sy * sy) > 0
), ticks AS (
  SELECT a.g,
         CAST(FLOOR(a.r * 1000000000.0 + 0.5) AS HUGEINT) AS ta,
         CAST(FLOOR(b.r * 1000000000.0 + 0.5) AS HUGEINT) AS tb
  FROM (SELECT * FROM rr WHERE platform = 'F') a
  JOIN (SELECT * FROM rr WHERE platform = 'O') b ON a.g = b.g AND a.h = b.h
), prof AS (
  SELECT g, CAST(COUNT(*) AS HUGEINT) AS n,
         SUM(ta) AS sx, SUM(tb) AS sy, SUM(ta * tb) AS sxy,
         SUM(ta * ta) AS sx2, SUM(tb * tb) AS sy2
  FROM ticks GROUP BY g
)
SELECT g AS gene_id, CAST(1 AS BIGINT) AS n_pairs,
       ROUND(CAST(n * sxy - sx * sy AS DOUBLE) /
             (sqrt(CAST(n * sx2 - sx * sx AS DOUBLE)) *
              sqrt(CAST(n * sy2 - sy * sy AS DOUBLE))), 6) + 0.0 AS icc
FROM prof
WHERE (n * sx2 - sx * sx) > 0 AND (n * sy2 - sy * sy) > 0
"""


def q_permutation_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14 — permutation FDR with the deterministic md5 permutation
    family (`Meta_analysis.R:896-956`, nperm budget `:902`)."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"),
        F.when(F.col("s_suppkey") % 3 == 0, "A").otherwise("R").alias("grp"),
    )
    fact = li.join(F.broadcast(sup), "l_suppkey").select(
        "l_partkey", "l_suppkey", "grp", "l_extendedprice"
    )
    out = permutation_fdr(
        fact, "l_partkey", "l_suppkey", "grp", "l_extendedprice", "A", "R", n_perm=20
    )
    return out.select("l_partkey", "t_obs", "n_extreme", "p_perm")


ORACLE_PERMUTATION = f"""
WITH sup AS (
  SELECT s_suppkey, CASE WHEN s_suppkey % 3 = 0 THEN 'A' ELSE 'R' END AS grp
  FROM supplier
), ks AS (SELECT UNNEST(generate_series(0, 20)) AS k),
hashed AS (
  SELECT s_suppkey, grp, k, md5(s_suppkey || '#' || k) AS h
  FROM sup CROSS JOIN ks
), ordered AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY k ORDER BY h, s_suppkey) AS slot,
         ROW_NUMBER() OVER (PARTITION BY k ORDER BY s_suppkey) AS orig_rank
  FROM hashed
), perms AS (
  SELECT o.s_suppkey, o.k,
         CASE WHEN o.k = 0 THEN o.grp ELSE d.grp END AS perm_group
  FROM ordered o JOIN (SELECT k, orig_rank AS slot, grp FROM ordered) d
    ON o.k = d.k AND o.slot = d.slot
), fact AS (
  SELECT l_partkey, p.k, p.perm_group, l_extendedprice
  FROM lineitem JOIN perms p ON l_suppkey = p.s_suppkey
), agg AS (
  SELECT l_partkey, k,
         COUNT(CASE WHEN perm_group = 'A' THEN l_extendedprice END) AS n_a,
         COUNT(CASE WHEN perm_group = 'R' THEN l_extendedprice END) AS n_b,
         {_DSUM.format(x="CASE WHEN perm_group = 'A' THEN l_extendedprice END")} AS sa,
         {_DSUM.format(x="CASE WHEN perm_group = 'R' THEN l_extendedprice END")} AS sb,
         {_DSUM2.format(x="CASE WHEN perm_group = 'A' THEN l_extendedprice END")} AS sa2,
         {_DSUM2.format(x="CASE WHEN perm_group = 'R' THEN l_extendedprice END")} AS sb2
  FROM fact GROUP BY l_partkey, k
  HAVING COUNT(CASE WHEN perm_group = 'A' THEN l_extendedprice END) >= 2
     AND COUNT(CASE WHEN perm_group = 'R' THEN l_extendedprice END) >= 2
), m AS (
  SELECT l_partkey, k, n_a, n_b,
         sa / n_a AS mean_a, sb / n_b AS mean_b,
         (sa2 - sa * sa / n_a) / (n_a - 1) AS var_a,
         (sb2 - sb * sb / n_b) / (n_b - 1) AS var_b
  FROM agg
), t0 AS (
  SELECT l_partkey, k, mean_a, mean_b,
         sqrt((((n_a - 1) * var_a + (n_b - 1) * var_b) / (n_a + n_b - 2))
              * (1.0e0 / n_a + 1.0e0 / n_b)) AS se
  FROM m
), tt AS (
  SELECT l_partkey, k, (mean_a - mean_b) / se AS t_statistic
  FROM t0 WHERE se > 0
), obs AS (
  SELECT l_partkey, t_statistic AS t_obs FROM tt WHERE k = 0
), perm AS (
  SELECT tt.l_partkey, tt.t_statistic, obs.t_obs
  FROM tt JOIN obs ON tt.l_partkey = obs.l_partkey
  WHERE tt.k > 0
)
SELECT l_partkey,
       MIN(t_obs) AS t_obs,
       CAST(SUM(CASE WHEN ABS(t_statistic) >= ABS(t_obs) THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
       (1 + SUM(CASE WHEN ABS(t_statistic) >= ABS(t_obs) THEN 1 ELSE 0 END))
         / (COUNT(*) + 1) AS p_perm
FROM perm GROUP BY l_partkey
"""


def q_mahalanobis_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M17 — multivariate sample-outlier score: standardized squared
    distance over the top-20-variance genes (diagonal covariance), the
    ArrayOutliers analogue (`QC_Affy_U133Plus2.R:156-164`)."""
    li = _t(spark, sf_dir, "lineitem")
    genes = _top_genes(spark, sf_dir, 20)
    cells = (
        li.join(F.broadcast(genes), "l_partkey")
        .groupBy(F.col("l_partkey").alias("g"), F.col("l_suppkey").alias("s"))
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("cell"))
    )
    dc = F.col("cell").cast("decimal(18,2)")
    stats = cells.groupBy("g").agg(
        F.sum(dc).cast("double").alias("cs"),
        F.sum((dc * dc).cast("decimal(38,4)")).cast("double").alias("cs2"),
        F.count(F.lit(1)).alias("cn"),
    ).where(F.col("cn") >= 2)
    var = (F.col("cs2") - F.col("cs") * F.col("cs") / F.col("cn")) / (F.col("cn") - 1)
    stats = stats.withColumn("m", F.col("cs") / F.col("cn")).withColumn("sd", F.sqrt(var)).where(
        F.col("sd") > 0
    )
    z2 = ((F.col("cell") - F.col("m")) / F.col("sd")) ** 2
    scores = (
        cells.join(F.broadcast(stats.select("g", "m", "sd")), "g")
        .groupBy("s")
        .agg(F.round(F.sum(z2), 6).alias("score"), F.count(F.lit(1)).alias("n_genes"))
    )
    return scores.select(
        F.col("s").alias("l_suppkey"),
        "score",
        "n_genes",
        (F.col("score") > 2 * F.col("n_genes")).cast("int").alias("is_outlier"),
    )


ORACLE_MAHALANOBIS = f"""
WITH {_TOP_GENES_CTE}, cells AS (
  SELECT l_partkey AS g, l_suppkey AS s,
         {_DSUM.format(x='l_extendedprice')} AS cell
  FROM lineitem
  WHERE l_partkey IN (SELECT l_partkey FROM topg WHERE rn <= 20)
  GROUP BY 1, 2
), stats AS (
  SELECT g,
         {_DSUM.format(x='cell')} AS cs,
         {_DSUM2.format(x='cell')} AS cs2,
         COUNT(*) AS cn
  FROM cells GROUP BY g HAVING COUNT(*) >= 2
), ms AS (
  SELECT g, cs / cn AS m,
         sqrt((cs2 - cs * cs / cn) / (cn - 1)) AS sd
  FROM stats
  WHERE sqrt((cs2 - cs * cs / cn) / (cn - 1)) > 0
), scored AS (
  SELECT s, ROUND(SUM(((cell - m) / sd) * ((cell - m) / sd)), 6) AS score,
         COUNT(*) AS n_genes
  FROM cells JOIN ms USING (g) GROUP BY s
)
SELECT s AS l_suppkey, score, n_genes,
       CAST(score > 2 * n_genes AS INTEGER) AS is_outlier
FROM scored
"""


def q_strata_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 — pairwise sample correlations stratified by same-nation vs
    cross-nation (`Study_effect.R:320-398` same-group/cross-study
    strata)."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_suppkey") <= 60)
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cells = li.groupBy(
        F.col("l_partkey").alias("g"), F.col("l_suppkey").alias("s")
    ).agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("cell"))
    a = cells.select(F.col("s").alias("s_a"), "g", F.col("cell").alias("x"))
    b = cells.select(F.col("s").alias("s_b"), "g", F.col("cell").alias("y"))
    dx = F.col("x").cast("decimal(18,2)")
    dy = F.col("y").cast("decimal(18,2)")
    pairs = (
        a.join(b, "g")
        .where(F.col("s_a") < F.col("s_b"))
        .groupBy("s_a", "s_b")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dx).cast("double").alias("sx"),
            F.sum(dy).cast("double").alias("sy"),
            F.sum((dx * dy).cast("decimal(38,4)")).cast("double").alias("sxy"),
            F.sum((dx * dx).cast("decimal(38,4)")).cast("double").alias("sx2"),
            F.sum((dy * dy).cast("decimal(38,4)")).cast("double").alias("sy2"),
        )
        .where(F.col("n") >= 3)
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")) * F.sqrt(
        F.col("n") * F.col("sy2") - F.col("sy") * F.col("sy")
    )
    r = pairs.withColumn("_den", den).where(F.col("_den") > 0).withColumn(
        "r", F.round(num / F.col("_den"), 6)
    )
    na = sup.select(F.col("s_suppkey").alias("s_a"), F.col("s_nationkey").alias("n_a"))
    nb = sup.select(F.col("s_suppkey").alias("s_b"), F.col("s_nationkey").alias("n_b"))
    return (
        r.join(F.broadcast(na), "s_a")
        .join(F.broadcast(nb), "s_b")
        .select(
            "s_a",
            "s_b",
            F.when(F.col("n_a") == F.col("n_b"), "same_nation")
            .otherwise("cross_nation")
            .alias("strata"),
            "n",
            "r",
        )
    )


ORACLE_STRATA = f"""
WITH cells AS (
  SELECT l_partkey AS g, l_suppkey AS s,
         {_DSUM.format(x='l_extendedprice')} AS cell
  FROM lineitem WHERE l_suppkey <= 60 GROUP BY 1, 2
), pairs AS (
  SELECT a.s AS s_a, b.s AS s_b, COUNT(*) AS n,
         {_DSUM.format(x='a.cell')} AS sx,
         {_DSUM.format(x='b.cell')} AS sy,
         CAST(SUM(CAST(CAST(a.cell AS DECIMAL(18,2)) * CAST(b.cell AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS sxy,
         {_DSUM2.format(x='a.cell')} AS sx2,
         {_DSUM2.format(x='b.cell')} AS sy2
  FROM cells a JOIN cells b ON a.g = b.g AND a.s < b.s
  GROUP BY 1, 2 HAVING COUNT(*) >= 3
), r AS (
  SELECT s_a, s_b, n,
         ROUND((n * sxy - sx * sy) /
               (sqrt(n * sx2 - sx * sx) * sqrt(n * sy2 - sy * sy)), 6) AS r
  FROM pairs
  WHERE (n * sx2 - sx * sx) > 0 AND (n * sy2 - sy * sy) > 0
)
SELECT s_a, s_b,
       CASE WHEN sa.s_nationkey = sb.s_nationkey THEN 'same_nation'
            ELSE 'cross_nation' END AS strata,
       n, r
FROM r
JOIN supplier sa ON s_a = sa.s_suppkey
JOIN supplier sb ON s_b = sb.s_suppkey
"""


def q_term_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A17 — term enrichment (chi-square form) of the top-|t| decile
    against part-type terms (`Meta_analysis.R:1359-1392`)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    tt = two_group_ttest(li, "l_partkey", "l_returnflag", "l_extendedprice", "R", "A")
    n_genes = tt.count()
    n_top = n_genes // 10
    w = Window.orderBy(F.abs(F.col("t_statistic")).desc(), F.col("l_partkey"))
    sig = (
        tt.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= n_top)
        .select("l_partkey")
    )
    gene_terms = part.select(
        F.col("p_partkey").alias("l_partkey"), F.col("p_type").alias("term")
    ).join(tt.select("l_partkey"), "l_partkey", "left_semi")
    out = enrichment_chi2(gene_terms, sig, "l_partkey", "term", top_k=50)
    return out.select(
        "term", "n_term", "a", "chi2", F.round("p_value", 8).alias("p_value")
    )


def _oracle_enrichment() -> str:
    from transcriptomics_data_integration_spark.suite import _ttest_cte

    p_expr = two_sided_p_sql("sqrt(chi2)")
    return f"""
WITH {_ttest_cte("l_partkey", "", "")}, ranked AS (
  SELECT l_partkey,
         ROW_NUMBER() OVER (ORDER BY ABS(t_statistic) DESC, l_partkey) AS rn,
         COUNT(*) OVER () AS n_genes
  FROM de
), sig AS (
  SELECT l_partkey FROM ranked WHERE rn <= (SELECT MAX(n_genes) // 10 FROM ranked)
), gene_terms AS (
  SELECT p_partkey AS l_partkey, p_type AS term FROM part
  WHERE p_partkey IN (SELECT l_partkey FROM de)
), per_term AS (
  SELECT term, COUNT(*) AS n_term,
         CAST(SUM(CASE WHEN l_partkey IN (SELECT l_partkey FROM sig) THEN 1 ELSE 0 END) AS BIGINT) AS a
  FROM gene_terms GROUP BY term
), totals AS (
  SELECT (SELECT COUNT(DISTINCT l_partkey) FROM gene_terms) AS n_total,
         (SELECT COUNT(*) FROM sig) AS n_sig
), cells AS (
  SELECT term, n_term, a,
         n_sig - a AS b,
         n_term - a AS c,
         (n_total - n_sig) - (n_term - a) AS d,
         n_total
  FROM per_term CROSS JOIN totals
), scored AS (
  SELECT term, n_term, a,
         CAST(n_total AS DOUBLE) * (a * d - b * c) * (a * d - b * c)
           / CAST((a + b) * (c + d) * (a + c) * (b + d) AS DOUBLE) AS chi2
  FROM cells
  WHERE (a + b) * (c + d) * (a + c) * (b + d) > 0
), topk AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY chi2 DESC, term) AS rnk FROM scored
)
SELECT term, n_term, a, chi2, ROUND({p_expr}, 8) AS p_value
FROM topk WHERE rnk <= 50
"""


def q_fisher_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A17 — exact Fisher (hypergeometric upper tail) enrichment of the
    top-|t| decile against part-type terms — the reference's actual test
    (`Meta_analysis.R:1371-1392`), in-plan via Stirling lgamma."""
    from transcriptomics_data_integration_spark.stats.enrichment import (
        fisher_enrichment,
    )

    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    tt = two_group_ttest(li, "l_partkey", "l_returnflag", "l_extendedprice", "R", "A")
    n_genes = tt.count()
    n_top = n_genes // 10
    w = Window.orderBy(F.abs(F.col("t_statistic")).desc(), F.col("l_partkey"))
    sig = (
        tt.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= n_top)
        .select("l_partkey")
    )
    gene_terms = part.select(
        F.col("p_partkey").alias("l_partkey"), F.col("p_type").alias("term")
    ).join(tt.select("l_partkey"), "l_partkey", "left_semi")
    out = fisher_enrichment(gene_terms, sig, "l_partkey", "term", top_k=50)
    return out.select(
        "term", "n_term", "a", F.round("p_fisher", 8).alias("p_fisher")
    )


def _oracle_fisher_enrichment() -> str:
    from transcriptomics_data_integration_spark.functions.special import (
        hypergeom_tail_sql,
    )
    from transcriptomics_data_integration_spark.suite import _ttest_cte

    tail = hypergeom_tail_sql("a", "n_total", "n_term", "n_sig", dialect="duckdb")
    return f"""
WITH {_ttest_cte("l_partkey", "", "")}, ranked AS (
  SELECT l_partkey,
         ROW_NUMBER() OVER (ORDER BY ABS(t_statistic) DESC, l_partkey) AS rn,
         COUNT(*) OVER () AS n_genes
  FROM de
), sig AS (
  SELECT l_partkey FROM ranked WHERE rn <= (SELECT MAX(n_genes) // 10 FROM ranked)
), gene_terms AS (
  SELECT p_partkey AS l_partkey, p_type AS term FROM part
  WHERE p_partkey IN (SELECT l_partkey FROM de)
), per_term AS (
  SELECT term, COUNT(*) AS n_term,
         CAST(SUM(CASE WHEN l_partkey IN (SELECT l_partkey FROM sig) THEN 1 ELSE 0 END) AS BIGINT) AS a
  FROM gene_terms GROUP BY term
), totals AS (
  SELECT (SELECT COUNT(DISTINCT l_partkey) FROM gene_terms) AS n_total,
         (SELECT COUNT(*) FROM sig) AS n_sig
), scored AS (
  SELECT term, n_term, a, {tail} AS p_fisher
  FROM per_term CROSS JOIN totals
), topk AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY p_fisher ASC, term) AS rnk FROM scored
)
SELECT term, n_term, a, ROUND(p_fisher, 8) AS p_fisher
FROM topk WHERE rnk <= 50
"""


def q_moderated_de(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 with eBayes moderation — the two-pass global-prior variance
    shrinkage on top of the pooled t (`DiffExpression_closedPlatform.R:546`)."""
    from transcriptomics_data_integration_spark.stats.ttest import moderated_t

    # gene-dependent variance scaling: the raw synthetic values are
    # homoscedastic across genes, for which fitFDist CORRECTLY infers
    # an infinite prior df (evar <= 0) and the Newton branch never
    # runs — scale INTEGER quantities by (1 + gene % 7) so the gated
    # query exercises the finite-d0 trigammaInverse path end-to-end.
    # Integer values at exact_scale=0 sidestep both strict-gate FP
    # traps: no fractional ties in the decimal cast, and the moment
    # integers stay far below 2^53 at every SF (beyond it DuckDB's
    # int128 -> double -> /10^scale cast double-rounds while Spark's
    # BigDecimal cast rounds once)
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "qty_scaled",
        (F.col("l_quantity") * (1 + F.col("l_partkey") % 7)).cast("double"),
    )
    tt = two_group_ttest(
        li, "l_partkey", "l_returnflag", "qty_scaled", "R", "A", exact_scale=0
    )
    out = moderated_t(tt)
    return out.select(
        "l_partkey",
        "n_a",
        "n_b",
        "t_statistic",
        F.round("t_moderated", 6).alias("t_moderated"),
        # relative-precision-safe: s2_post is O(1e11) here, absolute
        # round(6) would demand 17 significant digits from a double
        F.round(F.log("s2_post"), 6).alias("ln_s2_post"),
        F.round("df_prior", 6).alias("df_prior"),
    )


def _oracle_moderated_de() -> str:
    from transcriptomics_data_integration_spark.functions.special import (
        fitfdist_prior_ctes_sql,
    )
    from transcriptomics_data_integration_spark.suite import _ttest_cte

    value = "(l_quantity * (1 + l_partkey % 7))"
    return f"""
WITH {_ttest_cte("l_partkey", "", "", value_expr=value, scale=0)}, s2t AS (
  SELECT l_partkey, n_a, n_b, t_statistic,
         ((n_a - 1) * var_a + (n_b - 1) * var_b) / (n_a + n_b - 2) AS s2,
         CAST(n_a + n_b - 2 AS DOUBLE) AS df
  FROM de
), {fitfdist_prior_ctes_sql("s2t")}, posted AS (
  SELECT l_partkey, n_a, n_b, t_statistic, s2, df, d0,
         CASE WHEN isinf(d0) THEN s20
              ELSE (d0 * s20 + df * s2) / (d0 + df) END AS s2_post
  FROM s2t CROSS JOIN ff_prior2
)
SELECT l_partkey, n_a, n_b, t_statistic,
       ROUND(t_statistic * sqrt(s2 / s2_post), 6) AS t_moderated,
       ROUND(ln(s2_post), 6) AS ln_s2_post,
       ROUND(d0, 6) AS df_prior
FROM posted
"""


QUERIES_STATS = {
    "batch_center": q_batch_center,
    "icc_meta": q_icc_meta,
    "icc_sampled": q_icc_sampled,
    "permutation_fdr": q_permutation_fdr,
    "mahalanobis_outliers": q_mahalanobis_outliers,
    "strata_correlation": q_strata_correlation,
    "term_enrichment": q_term_enrichment,
    "fisher_enrichment": q_fisher_enrichment,
    "moderated_de": q_moderated_de,
}

ORACLES_STATS = {
    "batch_center": ORACLE_BATCH_CENTER,
    "icc_meta": ORACLE_ICC,
    "icc_sampled": ORACLE_ICC_SAMPLED,
    "permutation_fdr": ORACLE_PERMUTATION,
    "mahalanobis_outliers": ORACLE_MAHALANOBIS,
    "strata_correlation": ORACLE_STRATA,
    "term_enrichment": _oracle_enrichment(),
    "fisher_enrichment": _oracle_fisher_enrichment(),
    "moderated_de": _oracle_moderated_de(),
}


def q_meta_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry-point A step 7 end-to-end, HASH-GATED — per-platform DE
    -> integrative correlation (A12) -> ICC-weighted Stouffer combine
    (A15) -> p-improvement ratios (A16), the full `Meta_analysis.R`
    chain as ONE composition (`:312-347`, `:1211-1228`, `:1267-1284`).
    With decimal-exact DE and ICC pair moments the whole graph is
    SQL-expressible; transcendental-tainted outputs round 6-8."""
    from transcriptomics_data_integration_spark.pipelines.meta import meta_analysis

    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_partkey") <= 150) & F.col("l_linestatus").isin(["O", "F"])
    )
    cells = li.groupBy(
        F.col("l_linestatus").alias("platform"),
        F.col("l_partkey").alias("gene_id"),
        (F.col("l_suppkey") % 40).alias("sample_id"),
    ).agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("value")
    )
    targets = cells.select("sample_id").distinct().select(
        "sample_id",
        F.when(F.col("sample_id") % 2 == 0, "tumor").otherwise("normal").alias("target"),
    )
    out = meta_analysis(cells, targets, "tumor", "normal", exact_scale=2)
    return out.select(
        "gene_id",
        "n_platforms",
        F.round("avg_log2fc", 6).alias("avg_log2fc"),
        F.round("z_comb", 6).alias("z_comb"),
        F.round("p_comb", 8).alias("p_comb"),
        F.round("icc", 6).alias("icc"),
        F.round("avg_p_improvement", 6).alias("avg_p_improvement"),
    )


def _oracle_meta_pipeline() -> str:
    from transcriptomics_data_integration_spark.functions.normal import norm_ppf_sql

    p_expr = two_sided_p_sql("t_statistic")
    qn = norm_ppf_sql("((p_value) / 2.0e0)")
    z_expr = f"CASE WHEN (log2fc) > 0 THEN {qn} ELSE -({qn}) END"
    p_comb = two_sided_p_sql("z_comb")
    dprod = (
        "CAST(SUM(CAST(CAST({x} AS DECIMAL(18,2)) * CAST({y} AS DECIMAL(18,2))"
        " AS DECIMAL(38,4))) AS DOUBLE)"
    )
    return f"""
WITH cells AS (
  SELECT l_linestatus AS platform, l_partkey AS gene_id,
         l_suppkey % 40 AS sample_id,
         {_DSUM.format(x='l_extendedprice')} AS v
  FROM lineitem
  WHERE l_partkey <= 150 AND l_linestatus IN ('O', 'F')
  GROUP BY 1, 2, 3
), agg AS (
  SELECT gene_id, platform,
         COUNT(CASE WHEN sample_id % 2 = 0 THEN v END) AS n_a,
         COUNT(CASE WHEN sample_id % 2 <> 0 THEN v END) AS n_b,
         {_DSUM.format(x='CASE WHEN sample_id % 2 = 0 THEN v END')} AS sa,
         {_DSUM.format(x='CASE WHEN sample_id % 2 <> 0 THEN v END')} AS sb,
         {_DSUM2.format(x='CASE WHEN sample_id % 2 = 0 THEN v END')} AS sa2,
         {_DSUM2.format(x='CASE WHEN sample_id % 2 <> 0 THEN v END')} AS sb2
  FROM cells GROUP BY 1, 2
  HAVING COUNT(CASE WHEN sample_id % 2 = 0 THEN v END) >= 2
     AND COUNT(CASE WHEN sample_id % 2 <> 0 THEN v END) >= 2
), m AS (
  SELECT gene_id, platform, n_a, n_b,
         sa / n_a AS mean_a, sb / n_b AS mean_b,
         (sa2 - sa * sa / n_a) / (n_a - 1) AS var_a,
         (sb2 - sb * sb / n_b) / (n_b - 1) AS var_b
  FROM agg
), t0 AS (
  SELECT *,
         log2(mean_a / mean_b) AS log2fc,
         sqrt((((n_a - 1) * var_a + (n_b - 1) * var_b) / (n_a + n_b - 2))
              * (1.0e0 / n_a + 1.0e0 / n_b)) AS se
  FROM m
), tt AS (
  SELECT gene_id, platform, log2fc,
         (mean_a - mean_b) / se AS t_statistic
  FROM t0 WHERE se > 0
), de AS (
  SELECT *, {p_expr} AS p_value FROM tt
), pairs AS (
  SELECT a.platform, a.gene_id AS g, b.gene_id AS h,
         COUNT(*) AS n,
         {_DSUM.format(x='a.v')} AS sx,
         {_DSUM.format(x='b.v')} AS sy,
         {dprod.format(x='a.v', y='b.v')} AS sxy,
         {_DSUM2.format(x='a.v')} AS sx2,
         {_DSUM2.format(x='b.v')} AS sy2
  FROM cells a JOIN cells b
    ON a.platform = b.platform AND a.sample_id = b.sample_id
   AND a.gene_id <> b.gene_id
  GROUP BY 1, 2, 3
), rr AS (
  SELECT platform, g, h,
         (n * sxy - sx * sy) /
         (sqrt(n * sx2 - sx * sx) * sqrt(n * sy2 - sy * sy)) AS r
  FROM pairs
  WHERE (n * sx2 - sx * sx) > 0 AND (n * sy2 - sy * sy) > 0
), prof AS (
  SELECT a.g, COUNT(*) AS n,
         SUM(a.r) AS sx, SUM(b.r) AS sy, SUM(a.r * b.r) AS sxy,
         SUM(a.r * a.r) AS sx2, SUM(b.r * b.r) AS sy2
  FROM (SELECT * FROM rr WHERE platform = 'F') a
  JOIN (SELECT * FROM rr WHERE platform = 'O') b ON a.g = b.g AND a.h = b.h
  GROUP BY a.g
), iccs AS (
  SELECT g AS gene_id,
         (n * sxy - sx * sy) /
         (sqrt(n * sx2 - sx * sx) * sqrt(n * sy2 - sy * sy)) AS icc
  FROM prof
  WHERE (n * sx2 - sx * sx) > 0 AND (n * sy2 - sy * sy) > 0
), dez AS (
  SELECT de.*, COALESCE(i.icc, 0.0e0) AS icc
  FROM de LEFT JOIN iccs i USING (gene_id)
), z AS (
  SELECT gene_id, platform, log2fc, p_value, icc,
         {z_expr} AS zv,
         GREATEST(ABS(log2fc) + ABS(log2fc) * icc * icc, 0.0e0) AS w_raw
  FROM dez
), comb AS (
  SELECT gene_id,
         COUNT(*) AS n_platforms,
         AVG(log2fc) AS avg_log2fc,
         SUM(SQRT(ABS(log2fc)) * zv) / SQRT(SUM(w_raw)) AS z_comb
  FROM z GROUP BY gene_id HAVING COUNT(*) > 1
), pc AS (
  SELECT *, {p_comb} AS p_comb FROM comb
), imp AS (
  SELECT d.gene_id, AVG(log2(d.p_value / pc.p_comb)) AS avg_p_improvement
  FROM dez d JOIN pc ON d.gene_id = pc.gene_id
  GROUP BY d.gene_id
), icc_g AS (
  SELECT gene_id, MIN(icc) AS icc FROM dez GROUP BY gene_id
)
SELECT pc.gene_id, pc.n_platforms,
       ROUND(pc.avg_log2fc, 6) AS avg_log2fc,
       ROUND(pc.z_comb, 6) AS z_comb,
       ROUND(pc.p_comb, 8) AS p_comb,
       ROUND(icc_g.icc, 6) AS icc,
       ROUND(imp.avg_p_improvement, 6) AS avg_p_improvement
FROM pc
LEFT JOIN icc_g ON pc.gene_id = icc_g.gene_id
LEFT JOIN imp ON pc.gene_id = imp.gene_id
"""


QUERIES_STATS["meta_pipeline"] = q_meta_pipeline
ORACLES_STATS["meta_pipeline"] = _oracle_meta_pipeline()


def q_dup_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M9 — per-gene intra-replicate-block ICC (one-way ANOVA moments;
    `DiffExpression_closedPlatform.R:487-508`).  Blocks ~ supplier
    buckets; replicates ~ lineitems within a block."""
    from transcriptomics_data_integration_spark.stats.dupcorr import per_gene_block_icc

    li = _t(spark, sf_dir, "lineitem").where(F.col("l_partkey") <= 500)
    df = li.select(
        F.col("l_partkey").alias("gene_id"),
        (F.col("l_suppkey") % 10).alias("block"),
        F.col("l_extendedprice").alias("value"),
    )
    out = per_gene_block_icc(df, "gene_id", "block", "value", exact_scale=2)
    return out.select("gene_id", "k_blocks", "n_obs", "msw", "msb", "icc")


ORACLE_DUP_CORRELATION = """
WITH df AS (
  SELECT l_partkey AS gene_id, l_suppkey % 10 AS block, l_extendedprice AS value
  FROM lineitem WHERE l_partkey <= 500
), per_block AS (
  SELECT gene_id, block, COUNT(value) AS n_i,
         SUM(CAST(value AS DECIMAL(18,2))) AS s_dec,
         CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS s2_i
  FROM df GROUP BY gene_id, block
), terms AS (
  SELECT gene_id, block, n_i, s_dec, s2_i,
         CAST(ROUND(s2_i - CAST(s_dec AS DOUBLE) * CAST(s_dec AS DOUBLE) / n_i, 0) AS DECIMAL(28,0)) AS w_t,
         CAST(ROUND(CAST(s_dec AS DOUBLE) * CAST(s_dec AS DOUBLE) / n_i, 0) AS DECIMAL(28,0)) AS b_t
  FROM per_block
), per_gene AS (
  SELECT gene_id,
         COUNT(*) AS k_blocks,
         CAST(SUM(n_i) AS BIGINT) AS n_obs,
         CAST(SUM(w_t) AS DOUBLE) AS ssw,
         CAST(SUM(b_t) AS DOUBLE) AS ssb_part,
         CAST(SUM(s_dec) AS DOUBLE) AS s_tot,
         SUM(n_i * n_i) AS sn2
  FROM terms GROUP BY gene_id
  HAVING COUNT(*) >= 2 AND SUM(n_i) > COUNT(*)
), m AS (
  SELECT gene_id, k_blocks, n_obs,
         ssw / (n_obs - k_blocks) AS msw,
         (ssb_part - s_tot * s_tot / n_obs) / (k_blocks - 1) AS msb,
         (n_obs - sn2 / n_obs) / (k_blocks - 1) AS n0
  FROM per_gene
)
SELECT gene_id, k_blocks, n_obs, msw, msb,
       (msb - msw) / (msb + (n0 - 1.0e0) * msw) AS icc
FROM m WHERE msw > 0
"""

QUERIES_STATS["dup_correlation"] = q_dup_correlation
ORACLES_STATS["dup_correlation"] = ORACLE_DUP_CORRELATION


def q_blocked_de(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M9 CONSUMED by M8 (r11, the verdict's last unconsumed reference
    semantic): duplicateCorrelation -> lmFit(block, correlation) GLS
    downweighting end-to-end (`DiffExpression_closedPlatform.R:
    487-534`).  Per-gene block ICCs (one-way ANOVA moments) feed the
    order-free Fisher-z consensus, which feeds the closed-form
    2-group compound-symmetry GLS fit — technical-replicate blocks
    (supplier buckets) are downweighted by their design effect
    1+(n_i-1)rho instead of counting as independent arrays.  The
    oracle replays the whole chain (icc moments, quantized-z
    consensus, quantized GLS terms, t, normal p) in DuckDB."""
    from transcriptomics_data_integration_spark.stats.dupcorr import (
        blocked_gls_ttest,
    )

    li = _t(spark, sf_dir, "lineitem")
    # +3000/block: a deterministic block-mean component so the
    # per-gene ICCs (and hence the consensus) are solidly POSITIVE —
    # compound symmetry needs rho > -1/(n_max - 1) for a PD V, and
    # raw price data's near-zero icc would put the gate at that edge
    df = li.select(
        (F.col("l_partkey") % 200).alias("gene_id"),
        (F.col("l_suppkey") % 4).alias("block"),
        F.when((F.col("l_suppkey") % 4) < 2, F.lit("A"))
        .otherwise(F.lit("B"))
        .alias("grp"),
        (F.col("l_extendedprice") + 3000.0 * (F.col("l_suppkey") % 4)).alias("value"),
    )
    out = blocked_gls_ttest(
        df, "gene_id", "block", "grp", "value", "A", "B",
        exact_scale=2, term_scale=2,
    )
    return out.select(
        "gene_id",
        "n_a",
        "n_b",
        F.round("w_a", 6).alias("w_a"),
        F.round("w_b", 6).alias("w_b"),
        F.round("rho", 6).alias("rho"),
        F.round("mean_a", 4).alias("mean_a"),
        F.round("mean_b", 4).alias("mean_b"),
        F.round("t_statistic", 6).alias("t_statistic"),
        F.round("p_value", 8).alias("p_value"),
    )


def _oracle_blocked_de() -> str:
    p_expr = two_sided_p_sql("t_statistic")
    return f"""
WITH df AS (
  SELECT l_partkey % 200 AS gene_id, l_suppkey % 4 AS block,
         CASE WHEN l_suppkey % 4 < 2 THEN 'A' ELSE 'B' END AS grp,
         l_extendedprice + 3000.0e0 * (l_suppkey % 4) AS value
  FROM lineitem
), icc_pb AS (
  SELECT gene_id, block, COUNT(value) AS n_i,
         SUM(CAST(value AS DECIMAL(18,2))) AS s_dec,
         CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS s2_i
  FROM df GROUP BY gene_id, block
), icc_terms AS (
  SELECT gene_id, block, n_i, s_dec, s2_i,
         CAST(ROUND(s2_i - CAST(s_dec AS DOUBLE) * CAST(s_dec AS DOUBLE) / n_i, 0) AS DECIMAL(28,0)) AS w_t,
         CAST(ROUND(CAST(s_dec AS DOUBLE) * CAST(s_dec AS DOUBLE) / n_i, 0) AS DECIMAL(28,0)) AS b_t
  FROM icc_pb
), icc_pg AS (
  SELECT gene_id, COUNT(*) AS k_blocks, CAST(SUM(n_i) AS BIGINT) AS n_obs,
         CAST(SUM(w_t) AS DOUBLE) AS ssw, CAST(SUM(b_t) AS DOUBLE) AS ssb_part,
         CAST(SUM(s_dec) AS DOUBLE) AS s_tot, SUM(n_i * n_i) AS sn2
  FROM icc_terms GROUP BY gene_id
  HAVING COUNT(*) >= 2 AND SUM(n_i) > COUNT(*)
), icc_m AS (
  SELECT gene_id,
         ssw / (n_obs - k_blocks) AS msw,
         (ssb_part - s_tot * s_tot / n_obs) / (k_blocks - 1) AS msb,
         (n_obs - sn2 / n_obs) / (k_blocks - 1) AS n0
  FROM icc_pg
), iccs AS (
  SELECT gene_id, (msb - msw) / (msb + (n0 - 1.0e0) * msw) AS icc
  FROM icc_m WHERE msw > 0
), zq AS (
  SELECT CAST(ROUND(
           0.5e0 * ln((1.0e0 + LEAST(GREATEST(icc, -0.999999), 0.999999))
                    / (1.0e0 - LEAST(GREATEST(icc, -0.999999), 0.999999))) * 1e12,
           0) AS DECIMAL(38,0)) AS z
  FROM iccs
), rho_t AS (
  SELECT COUNT(*) AS n_genes, CAST(SUM(z) AS DOUBLE) / 1e12 AS zsum FROM zq
), rho AS (
  SELECT (exp(2.0e0 * zsum / n_genes) - 1.0e0)
       / (exp(2.0e0 * zsum / n_genes) + 1.0e0) AS rho
  FROM rho_t
), pb AS (
  SELECT gene_id, grp, block, COUNT(value) AS n_i,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s_i,
         CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS q_i
  FROM df GROUP BY gene_id, grp, block
), terms AS (
  SELECT gene_id, grp, n_i, r.rho AS rho_v,
         CAST(ROUND(n_i / (1.0e0 + (n_i - 1.0e0) * r.rho) * 100, 0) AS DECIMAL(38,0)) AS w_q,
         CAST(ROUND(s_i / (1.0e0 + (n_i - 1.0e0) * r.rho) * 100, 0) AS DECIMAL(38,0)) AS m_q,
         CAST(ROUND((q_i - r.rho * s_i * s_i / (1.0e0 + (n_i - 1.0e0) * r.rho))
                    / (1.0e0 - r.rho) * 100, 0) AS DECIMAL(38,0)) AS q_q
  FROM pb, rho r
), pg AS (
  SELECT gene_id,
         CAST(SUM(CASE WHEN grp = 'A' THEN n_i END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN grp = 'B' THEN n_i END) AS BIGINT) AS n_b,
         CAST(SUM(CASE WHEN grp = 'A' THEN w_q END) AS DOUBLE) / 100 AS w_a,
         CAST(SUM(CASE WHEN grp = 'B' THEN w_q END) AS DOUBLE) / 100 AS w_b,
         CAST(SUM(CASE WHEN grp = 'A' THEN m_q END) AS DOUBLE) / 100 AS m_a,
         CAST(SUM(CASE WHEN grp = 'B' THEN m_q END) AS DOUBLE) / 100 AS m_b,
         CAST(SUM(q_q) AS DOUBLE) / 100 AS q,
         MIN(rho_v) AS rho
  FROM terms GROUP BY gene_id
  HAVING SUM(CASE WHEN grp = 'A' THEN n_i END) >= 2
     AND SUM(CASE WHEN grp = 'B' THEN n_i END) >= 2
     AND CAST(SUM(CASE WHEN grp = 'A' THEN w_q END) AS DOUBLE) > 0
     AND CAST(SUM(CASE WHEN grp = 'B' THEN w_q END) AS DOUBLE) > 0
     AND SUM(n_i) > 2
), fit AS (
  SELECT gene_id, n_a, n_b, w_a, w_b, rho,
         m_a / w_a AS mean_a, m_b / w_b AS mean_b,
         (q - w_a * (m_a / w_a) * (m_a / w_a)
            - w_b * (m_b / w_b) * (m_b / w_b)) / (n_a + n_b - 2) AS s2
  FROM pg
), tt AS (
  SELECT *, (mean_a - mean_b)
            / sqrt(s2 * (1.0e0 / w_a + 1.0e0 / w_b)) AS t_statistic
  FROM fit WHERE s2 > 0
)
SELECT gene_id, n_a, n_b,
       ROUND(w_a, 6) AS w_a, ROUND(w_b, 6) AS w_b,
       ROUND(rho, 6) AS rho,
       ROUND(mean_a, 4) AS mean_a, ROUND(mean_b, 4) AS mean_b,
       ROUND(t_statistic, 6) AS t_statistic,
       ROUND({p_expr}, 8) AS p_value
FROM tt
"""


QUERIES_STATS["blocked_de"] = q_blocked_de
ORACLES_STATS["blocked_de"] = _oracle_blocked_de()


def q_pairwise_contrasts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 all-pairwise contrasts + per-contrast BH + decideTests sign
    matrix + A9 Venn of significant sets — the reference's dynamic
    ``combn``/``makeContrasts`` machinery
    (`DiffExpression_closedPlatform.R:511-594`), contrast generation by
    driver-side pair enumeration instead of string-eval."""
    from itertools import combinations

    from transcriptomics_data_integration_spark.operators.aggregates import bitmask_venn
    from transcriptomics_data_integration_spark.stats.bh import p_adjust

    li = _t(spark, sf_dir, "lineitem")
    groups = ["A", "N", "R"]
    per_contrast = []
    for ga, gb in combinations(groups, 2):
        tt = two_group_ttest(li, "l_partkey", "l_returnflag", "l_extendedprice", ga, gb)
        per_contrast.append(tt.withColumn("contrast", F.lit(f"{ga}vs{gb}")))
    de = per_contrast[0]
    for d in per_contrast[1:]:
        de = de.unionByName(d)
    adj = p_adjust(
        de,
        "p_value",
        "adj_p_value",
        method="BH",
        partition_cols=["contrast"],
        tiebreak_col="l_partkey",
    )
    decided = adj.withColumn(
        "decide",
        F.when(F.col("adj_p_value") > 0.5, 0).otherwise(
            F.signum(F.col("log2fc")).cast("int")
        ),
    )
    sig = decided.where(F.col("decide") != 0)
    return bitmask_venn(sig, "l_partkey", "contrast")


def _oracle_pairwise_contrasts() -> str:
    case = "CASE WHEN l_returnflag = '{g}' THEN l_extendedprice END"
    pieces = []
    for ga, gb in [("A", "N"), ("A", "R"), ("N", "R")]:
        ca, cb = case.format(g=ga), case.format(g=gb)
        pieces.append(f"""
SELECT l_partkey, '{ga}vs{gb}' AS contrast,
       COUNT({ca}) AS n_a, COUNT({cb}) AS n_b,
       {_DSUM.format(x=ca)} AS sa, {_DSUM.format(x=cb)} AS sb,
       {_DSUM2.format(x=ca)} AS sa2, {_DSUM2.format(x=cb)} AS sb2
FROM lineitem WHERE l_returnflag IN ('{ga}', '{gb}')
GROUP BY l_partkey
HAVING COUNT({ca}) >= 2 AND COUNT({cb}) >= 2""")
    union = " UNION ALL ".join(pieces)
    p_expr = two_sided_p_sql("t_statistic")
    return f"""
WITH agg AS ({union}), m AS (
  SELECT l_partkey, contrast, n_a, n_b,
         sa / n_a AS mean_a, sb / n_b AS mean_b,
         (sa2 - sa * sa / n_a) / (n_a - 1) AS var_a,
         (sb2 - sb * sb / n_b) / (n_b - 1) AS var_b
  FROM agg
), t0 AS (
  SELECT l_partkey, contrast, mean_a, mean_b,
         log2(mean_a / mean_b) AS log2fc,
         sqrt((((n_a - 1) * var_a + (n_b - 1) * var_b) / (n_a + n_b - 2))
              * (1.0e0 / n_a + 1.0e0 / n_b)) AS se
  FROM m
), tt AS (
  SELECT l_partkey, contrast, log2fc, (mean_a - mean_b) / se AS t_statistic
  FROM t0 WHERE se > 0
), p AS (
  SELECT *, {p_expr} AS p_value FROM tt
), b AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY contrast ORDER BY p_value, l_partkey) AS rnk,
         COUNT(*) OVER (PARTITION BY contrast) AS nn
  FROM p
), adj AS (
  SELECT *,
         MIN(LEAST(p_value * nn / rnk, 1.0e0)) OVER (
           PARTITION BY contrast
           ORDER BY p_value DESC, l_partkey DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS adj_p_value
  FROM b
), sig AS (
  SELECT l_partkey, contrast FROM adj
  WHERE adj_p_value <= 0.5 AND CASE WHEN log2fc > 0 THEN 1 WHEN log2fc < 0 THEN -1 ELSE 0 END <> 0
), membership AS (
  SELECT l_partkey, STRING_AGG(DISTINCT contrast, '|' ORDER BY contrast) AS membership
  FROM sig GROUP BY l_partkey
)
SELECT membership, COUNT(*) AS n_elements FROM membership GROUP BY membership
"""


QUERIES_STATS["pairwise_contrasts"] = q_pairwise_contrasts
ORACLES_STATS["pairwise_contrasts"] = _oracle_pairwise_contrasts()


def q_lmfit_design(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 general form — per-gene OLS on the design
    [1, I(l_returnflag='R'), l_quantity]: lmFit with a covariate, fully
    in-plan (moment aggregation + Cramer solve; `stats/lmfit.py`).
    Reference lmFit sites `DiffExpression_closedPlatform.R:511-546`."""
    from transcriptomics_data_integration_spark.stats.lmfit import lmfit_design

    li = _t(spark, sf_dir, "lineitem")
    out = lmfit_design(
        li, "l_partkey", "l_returnflag = 'R'", "l_quantity", "l_extendedprice"
    )
    return out.select(
        "l_partkey",
        "n_obs",
        "beta0",
        "beta1",
        "beta2",
        "t_statistic",
        F.round("p_value", 8).alias("p_value"),
    )


def _oracle_lmfit_design() -> str:
    from transcriptomics_data_integration_spark.stats.lmfit import (
        BETA0_SQL,
        BETA1_SQL,
        BETA2_SQL,
        DET_SQL,
        RSS_SQL,
        SE1_SQL,
        lmfit_moment_sql,
    )

    moments = lmfit_moment_sql("l_returnflag = 'R'", "l_quantity", "l_extendedprice")
    agg_cols = ",\n         ".join(f"{sql} AS {name}" for name, sql in moments.items())
    p_expr = two_sided_p_sql("t_statistic")
    return f"""
WITH agg AS (
  SELECT l_partkey,
         {agg_cols}
  FROM lineitem GROUP BY l_partkey
), d AS (
  SELECT *, {DET_SQL} AS det FROM agg
), sol AS (
  SELECT *, {BETA0_SQL} AS beta0, {BETA1_SQL} AS beta1, {BETA2_SQL} AS beta2
  FROM d WHERE det > 0
), r AS (
  SELECT *, {RSS_SQL} AS rss FROM sol
), s AS (
  SELECT *, {SE1_SQL} AS se
  FROM r WHERE n > 3 AND rss > 0 AND n * s22 - s2 * s2 > 0
), t AS (
  SELECT *, beta1 / se AS t_statistic FROM s WHERE se > 0
)
SELECT l_partkey, CAST(n AS BIGINT) AS n_obs, beta0, beta1, beta2, t_statistic,
       ROUND({p_expr}, 8) AS p_value
FROM t
"""


QUERIES_STATS["lmfit_design"] = q_lmfit_design
ORACLES_STATS["lmfit_design"] = _oracle_lmfit_design()


def q_impute_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M16 — per-gene mean imputation (`DiffExpression_normalisedData.R
    :160-170`; Amelia EM approximated by the build-plan mean fill).
    Missingness is synthesized deterministically (quantity > 45) so the
    oracle sees the same holes; the fill is the decimal-exact mean of
    the observed cells."""
    from transcriptomics_data_integration_spark.stats.mlkernels import impute_missing

    li = _t(spark, sf_dir, "lineitem")
    cells = li.select(
        F.col("l_partkey").alias("gene_id"),
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("l_quantity") <= 45, F.col("l_extendedprice")).alias("value"),
    )
    out = impute_missing(cells, "value", strategy="mean", exact_scale=2)
    return out.select(
        "gene_id",
        "l_orderkey",
        "l_linenumber",
        F.round("value", 6).alias("value"),
    )


ORACLE_IMPUTE_MISSING = """
WITH cells AS (
  SELECT l_partkey AS gene_id, l_orderkey, l_linenumber,
         CASE WHEN l_quantity <= 45 THEN l_extendedprice END AS value
  FROM lineitem
), fills AS (
  SELECT gene_id,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(value) AS fill
  FROM cells GROUP BY gene_id
  HAVING COUNT(value) > 0
)
SELECT c.gene_id, c.l_orderkey, c.l_linenumber,
       ROUND(COALESCE(c.value, f.fill), 6) AS value
FROM cells c JOIN fills f ON c.gene_id = f.gene_id
"""


QUERIES_STATS["impute_missing"] = q_impute_missing
ORACLES_STATS["impute_missing"] = ORACLE_IMPUTE_MISSING


def q_impute_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M16 full fidelity — EM imputation under the two-way additive
    model (`DiffExpression_normalisedData.R:160-170`, Amelia EM;
    stats/mlkernels.py:impute_missing_em).  One EM refit (max_iter=1)
    is closed-form, so the oracle replays it exactly: init effects from
    observed cells, fill, refit on the completed matrix, final fill.
    Missing cells are the natural holes of the (gene, sample) grid.
    Integer-valued sums keep every average deterministic across
    engines."""
    from transcriptomics_data_integration_spark.stats.mlkernels import impute_missing_em

    li = _t(spark, sf_dir, "lineitem").where(F.col("l_partkey") <= 200)
    cells = li.groupBy(
        F.col("l_partkey").alias("gene_id"),
        (F.col("l_suppkey") % 50).alias("sample_id"),
    ).agg(F.sum("l_quantity").alias("value"))
    out = impute_missing_em(cells, "gene_id", "sample_id", "value", max_iter=1)
    return out.select(
        "gene_id", "sample_id", F.round("value", 6).alias("value")
    )


ORACLE_IMPUTE_EM = """
WITH cells AS (
  SELECT l_partkey AS gene_id, l_suppkey % 50 AS sample_id,
         CAST(SUM(l_quantity) AS DOUBLE) AS x
  FROM lineitem WHERE l_partkey <= 200 GROUP BY 1, 2
), grid AS (
  SELECT g.gene_id, s.sample_id
  FROM (SELECT DISTINCT gene_id FROM cells) g
  CROSS JOIN (SELECT DISTINCT sample_id FROM cells) s
), miss AS (
  SELECT gene_id, sample_id FROM grid gr
  WHERE NOT EXISTS (
    SELECT 1 FROM cells c
    WHERE c.gene_id = gr.gene_id AND c.sample_id = gr.sample_id
  )
), mu0 AS (SELECT AVG(x) AS mu FROM cells),
a0 AS (
  SELECT gene_id, AVG(x) - (SELECT mu FROM mu0) AS a
  FROM cells GROUP BY gene_id
), b0 AS (
  SELECT sample_id, AVG(x - (SELECT mu FROM mu0) - a) AS b
  FROM cells JOIN a0 USING (gene_id) GROUP BY sample_id
), fill0 AS (
  SELECT m.gene_id, m.sample_id, (SELECT mu FROM mu0) + a + b AS x
  FROM miss m JOIN a0 USING (gene_id) JOIN b0 USING (sample_id)
), comp AS (
  SELECT * FROM cells UNION ALL SELECT * FROM fill0
), mu1 AS (SELECT AVG(x) AS mu FROM comp),
a1 AS (
  SELECT gene_id, AVG(x) - (SELECT mu FROM mu1) AS a
  FROM comp GROUP BY gene_id
), b1 AS (
  SELECT sample_id, AVG(x - (SELECT mu FROM mu1) - a) AS b
  FROM comp JOIN a1 USING (gene_id) GROUP BY sample_id
), fill1 AS (
  SELECT m.gene_id, m.sample_id, (SELECT mu FROM mu1) + a + b AS x
  FROM miss m JOIN a1 USING (gene_id) JOIN b1 USING (sample_id)
)
SELECT gene_id, sample_id, ROUND(x, 6) AS value FROM cells
UNION ALL
SELECT gene_id, sample_id, ROUND(x, 6) AS value FROM fill1
"""


QUERIES_STATS["impute_em"] = q_impute_em
ORACLES_STATS["impute_em"] = ORACLE_IMPUTE_EM


def q_median_polish_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2 — Tukey median polish, FIXED two-sweep-pair form
    (`GenExpressionComb_Affy_HuEx1ST.R:223-230`, RMA summarization).
    tol=0 pins exactly 2 iterations; integer-valued inputs keep every
    intermediate (medians of dyadic rationals, subtractions) exactly
    representable, so the grouped-map Arrow kernel and the DuckDB
    median/quantile_cont chain agree bit-for-bit.  The free-running
    variant stays rows-only (`median_polish`)."""
    from transcriptomics_data_integration_spark.stats.medianpolish import (
        median_polish_summarize,
    )

    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    probes = (
        li.join(
            F.broadcast(part.select(F.col("p_partkey").alias("l_partkey"), "p_brand")),
            "l_partkey",
        )
        .groupBy(
            F.col("p_brand").alias("probeset"),
            F.col("l_partkey").alias("probe"),
            (F.col("l_suppkey") % 20).alias("sample_id"),
        )
        .agg(F.sum("l_quantity").alias("value"))
    )
    out = median_polish_summarize(
        probes, "probeset", "probe", "sample_id", "value", max_iter=2, tol=0.0
    )
    return out.select(
        "probeset",
        F.col("sample").alias("sample_id"),
        F.round("expression", 6).alias("expression"),
    )


ORACLE_MEDIAN_POLISH_FIXED = """
WITH cells0 AS (
  SELECT p_brand AS ps, CAST(l_partkey AS VARCHAR) AS pr,
         CAST(l_suppkey % 20 AS VARCHAR) AS s,
         CAST(SUM(l_quantity) AS DOUBLE) AS v
  FROM lineitem JOIN part ON p_partkey = l_partkey
  GROUP BY 1, 2, 3
), pm AS (
  SELECT ps, pr, quantile_cont(v, 0.5) AS pmed FROM cells0 GROUP BY ps, pr
), grid AS (
  SELECT a.ps, a.pr, b.s
  FROM (SELECT DISTINCT ps, pr FROM cells0) a
  JOIN (SELECT DISTINCT ps, s FROM cells0) b USING (ps)
), cells AS (
  SELECT g.ps, g.pr, g.s, COALESCE(c.v, p.pmed) AS v
  FROM grid g
  LEFT JOIN cells0 c ON g.ps = c.ps AND g.pr = c.pr AND g.s = c.s
  JOIN pm p ON g.ps = p.ps AND g.pr = p.pr
), rm1 AS (
  SELECT ps, pr, quantile_cont(v, 0.5) AS rm FROM cells GROUP BY ps, pr
), r1 AS (
  SELECT c.ps, c.pr, c.s, c.v - rm AS v FROM cells c JOIN rm1 USING (ps, pr)
), oa1 AS (
  SELECT ps, quantile_cont(rm, 0.5) AS o FROM rm1 GROUP BY ps
), re1 AS (
  SELECT ps, pr, rm - o AS re FROM rm1 JOIN oa1 USING (ps)
), cm1 AS (
  SELECT ps, s, quantile_cont(v, 0.5) AS cm FROM r1 GROUP BY ps, s
), r2 AS (
  SELECT r1.ps, r1.pr, r1.s, r1.v - cm AS v FROM r1 JOIN cm1 USING (ps, s)
), ob1 AS (
  SELECT ps, quantile_cont(cm, 0.5) AS o FROM cm1 GROUP BY ps
), ce1 AS (
  SELECT ps, s, cm - o AS ce FROM cm1 JOIN ob1 USING (ps)
), rm2 AS (
  SELECT ps, pr, quantile_cont(v, 0.5) AS rm FROM r2 GROUP BY ps, pr
), r3 AS (
  SELECT r2.ps, r2.pr, r2.s, r2.v - rm AS v FROM r2 JOIN rm2 USING (ps, pr)
), ret AS (
  SELECT ps, pr, re + rm AS ret FROM re1 JOIN rm2 USING (ps, pr)
), oa2 AS (
  SELECT ps, quantile_cont(ret, 0.5) AS o FROM ret GROUP BY ps
), cm2 AS (
  SELECT ps, s, quantile_cont(v, 0.5) AS cm FROM r3 GROUP BY ps, s
), cet AS (
  SELECT ps, s, ce + cm AS cet FROM ce1 JOIN cm2 USING (ps, s)
), ob2 AS (
  SELECT ps, quantile_cont(cet, 0.5) AS o FROM cet GROUP BY ps
)
SELECT cet.ps AS probeset, cet.s AS sample_id,
       ROUND(oa1.o + ob1.o + oa2.o + ob2.o + (cet.cet - ob2.o), 6) AS expression
FROM cet
JOIN oa1 ON cet.ps = oa1.ps
JOIN ob1 ON cet.ps = ob1.ps
JOIN oa2 ON cet.ps = oa2.ps
JOIN ob2 ON cet.ps = ob2.ps
"""


QUERIES_STATS["median_polish_fixed"] = q_median_polish_fixed
ORACLES_STATS["median_polish_fixed"] = ORACLE_MEDIAN_POLISH_FIXED


def q_logistic_irls2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M14 — per-gene logistic regression, fixed 2-step IRLS from
    beta=0 on the centered predictor (`Meta_analysis.R:581-598`).
    Every step is a closed-form moment expression (Cramer 2x2 solve),
    so the DuckDB oracle replays it exactly; exp() taints the second
    step, so outputs carry the standard transcendental rounding."""
    from transcriptomics_data_integration_spark.stats.mlkernels import (
        logistic_per_gene_fixed,
    )

    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_partkey") <= 100) & F.col("l_returnflag").isin(["R", "A"])
    )
    out = logistic_per_gene_fixed(li, "l_partkey", "l_returnflag", "l_extendedprice", "R")
    return out.select(
        "gene_id",
        "n",
        F.round("intercept_at_mean", 6).alias("intercept_at_mean"),
        F.round(F.col("coef") * 1.0e4, 6).alias("coef_per_10k"),
    )


ORACLE_LOGISTIC_IRLS2 = """
WITH pts AS (
  SELECT CAST(l_partkey AS VARCHAR) AS g,
         CAST(l_extendedprice AS DOUBLE) AS x,
         CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y
  FROM lineitem
  WHERE l_partkey <= 100 AND l_returnflag IN ('R', 'A')
), cen AS (
  SELECT g, x - AVG(x) OVER (PARTITION BY g) AS xc, y FROM pts
), m1 AS (
  SELECT g, COUNT(*) AS n,
         SUM(0.25) AS s0, SUM(0.25 * xc) AS s1, SUM(0.25 * xc * xc) AS s2,
         SUM(0.25 * (4.0 * (y - 0.5))) AS t0,
         SUM(0.25 * xc * (4.0 * (y - 0.5))) AS t1
  FROM cen GROUP BY g
), b1 AS (
  SELECT g, n,
         (s2 * t0 - s1 * t1) / (s0 * s2 - s1 * s1) AS b0,
         (s0 * t1 - s1 * t0) / (s0 * s2 - s1 * s1) AS b1
  FROM m1 WHERE s0 * s2 - s1 * s1 > 0
), it2 AS (
  SELECT c.g, c.xc, c.y, b.b0 + b.b1 * c.xc AS eta
  FROM cen c JOIN b1 b ON c.g = b.g
), w2 AS (
  SELECT g, xc, y, eta,
         1.0 / (1.0 + exp(-GREATEST(LEAST(eta, 30.0), -30.0))) AS mu
  FROM it2
), z2 AS (
  SELECT g, xc,
         GREATEST(mu * (1.0 - mu), 1e-9) AS w,
         eta + (y - mu) / GREATEST(mu * (1.0 - mu), 1e-9) AS z
  FROM w2
), m2 AS (
  SELECT g,
         SUM(w) AS s0, SUM(w * xc) AS s1, SUM(w * xc * xc) AS s2,
         SUM(w * z) AS t0, SUM(w * xc * z) AS t1
  FROM z2 GROUP BY g
), b2 AS (
  SELECT g,
         (s2 * t0 - s1 * t1) / (s0 * s2 - s1 * s1) AS b0,
         (s0 * t1 - s1 * t0) / (s0 * s2 - s1 * s1) AS b1
  FROM m2 WHERE s0 * s2 - s1 * s1 > 0
)
SELECT b2.g AS gene_id, b1.n AS n,
       ROUND(b2.b0, 6) AS intercept_at_mean,
       ROUND(b2.b1 * 1.0e4, 6) AS coef_per_10k
FROM b2 JOIN b1 ON b2.g = b1.g
"""


QUERIES_STATS["logistic_irls2"] = q_logistic_irls2
ORACLES_STATS["logistic_irls2"] = ORACLE_LOGISTIC_IRLS2


def q_sample_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M12/M13 distributed phase — the S x S sample distance matrix
    (both metrics) that feeds MDS/Ward (`DiffExpression_closedPlatform.R
    :645`, `Study_effect.R:508,828-829`).  Integer-valued cells make
    the squared-Euclidean sums EXACT (no rounding needed); the
    correlation distance divides, so it rounds."""
    from transcriptomics_data_integration_spark.stats.hclust import (
        sample_distance_matrix,
    )

    li = _t(spark, sf_dir, "lineitem").where(F.col("l_partkey") <= 500)
    cells = li.groupBy(
        F.col("l_partkey").alias("gene_id"),
        (F.col("l_suppkey") % 25).alias("sample_id"),
    ).agg(F.sum("l_quantity").alias("value"))
    eu = sample_distance_matrix(cells, "sample_id", "gene_id", "value", "euclidean")
    co = sample_distance_matrix(cells, "sample_id", "gene_id", "value", "correlation")
    return (
        eu.withColumnRenamed("d2", "d2_euclid")
        .join(co.withColumnRenamed("d2", "d2_corr"), ["sa", "sb"])
        .select("sa", "sb", "d2_euclid", F.round("d2_corr", 9).alias("d2_corr"))
    )


ORACLE_SAMPLE_DISTANCES = """
WITH cells AS (
  SELECT l_partkey AS gene_id, l_suppkey % 25 AS sample_id,
         CAST(SUM(l_quantity) AS DOUBLE) AS v
  FROM lineitem WHERE l_partkey <= 500 GROUP BY 1, 2
), pairs AS (
  SELECT a.sample_id AS sa, b.sample_id AS sb, a.v AS x, b.v AS y
  FROM cells a JOIN cells b ON a.gene_id = b.gene_id
  WHERE a.sample_id < b.sample_id
), mom AS (
  SELECT sa, sb, COUNT(*) AS n,
         SUM((x - y) * (x - y)) AS d2_euclid,
         SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
         SUM(x * x) AS sxx, SUM(y * y) AS syy
  FROM pairs GROUP BY sa, sb
)
SELECT sa, sb, d2_euclid,
       ROUND(POWER(1.0 - (sxy - sx * sy / n)
                   / SQRT((sxx - sx * sx / n) * (syy - sy * sy / n)), 2),
             9) AS d2_corr
FROM mom
"""


QUERIES_STATS["sample_distances"] = q_sample_distances
ORACLES_STATS["sample_distances"] = ORACLE_SAMPLE_DISTANCES


def q_pca_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M11 distributed phase, HASH-GATED — the G x G gene correlation
    matrix that ``prcomp(t(data), scale=TRUE)`` eigendecomposes
    (`Study_effect.R:543`).  The eigenvectors are sign-indeterminate
    (``pca_samples`` stays rows-only) but THIS relation — all of PCA's
    data-sized work — is deterministic; decimal-exact moments make it
    bitwise-reproducible.  Complete grid (zero-fill) mirrors the dense
    matrix prcomp sees."""
    from transcriptomics_data_integration_spark.stats.mlkernels import (
        feature_covariance,
    )

    li = _t(spark, sf_dir, "lineitem").where(F.col("l_partkey") <= 25)
    cells = li.groupBy(
        F.col("l_partkey").alias("gene_id"),
        (F.col("l_suppkey") % 50).alias("sample_id"),
    ).agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("value")
    )
    grid = (
        cells.select("gene_id")
        .distinct()
        .crossJoin(cells.select("sample_id").distinct())
        .join(cells, ["gene_id", "sample_id"], "left")
        .fillna({"value": 0.0})
    )
    out = feature_covariance(
        grid, "gene_id", "sample_id", "value", standardize=True, exact_scale=2
    )
    return out.select(
        "ga", "gb", "n", F.round("stat", 9).alias("gene_corr")
    )


ORACLE_PCA_COVARIANCE = f"""
WITH cells AS (
  SELECT l_partkey AS gene_id, l_suppkey % 50 AS sample_id,
         {_DSUM.format(x='l_extendedprice')} AS v
  FROM lineitem WHERE l_partkey <= 25 GROUP BY 1, 2
), grid AS (
  SELECT g.gene_id, s.sample_id, COALESCE(c.v, 0.0e0) AS v
  FROM (SELECT DISTINCT gene_id FROM cells) g
  CROSS JOIN (SELECT DISTINCT sample_id FROM cells) s
  LEFT JOIN cells c ON c.gene_id = g.gene_id AND c.sample_id = s.sample_id
), pairs AS (
  SELECT a.gene_id AS ga, b.gene_id AS gb, a.v AS x, b.v AS y
  FROM grid a JOIN grid b ON a.sample_id = b.sample_id
  WHERE a.gene_id <= b.gene_id
), mom AS (
  SELECT ga, gb, CAST(COUNT(*) AS BIGINT) AS n,
         {_DSUM.format(x='x')} AS sx, {_DSUM.format(x='y')} AS sy,
         CAST(SUM(CAST(CAST(x AS DECIMAL(18,2)) * CAST(y AS DECIMAL(18,2))
              AS DECIMAL(38,4))) AS DOUBLE) AS sxy,
         {_DSUM2.format(x='x')} AS sx2, {_DSUM2.format(x='y')} AS sy2
  FROM pairs GROUP BY 1, 2
)
SELECT ga, gb, n,
       ROUND((CAST(n AS DOUBLE) * sxy - sx * sy) /
             (sqrt(CAST(n AS DOUBLE) * sx2 - sx * sx)
              * sqrt(CAST(n AS DOUBLE) * sy2 - sy * sy)), 9) AS gene_corr
FROM mom
"""


def q_mds_bmatrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M12 distributed phase, HASH-GATED — classical MDS up to and
    including the double centering: B = -1/2 J D^2 J of ``cmdscale``
    (`Study_effect.R:508,516`), entirely in-plan (distance self-join,
    decimal row/grand sums broadcast back, per-cell centering).  Only
    the S x S eigendecomposition — O(S^2) driver work by the data
    model — stays outside the gate (``mds_samples`` rows-only).

    Integer-valued cells (quantity sums), like ``sample_distances``:
    every decimal -> double cast is then EXACT, sidestepping the 1-ulp
    divergence between DuckDB's scaled-int128 -> double conversion and
    Spark's BigDecimal rounding on large fractional decimals."""
    from transcriptomics_data_integration_spark.stats.mlkernels import mds_bmatrix

    li = _t(spark, sf_dir, "lineitem").where(F.col("l_partkey") <= 300)
    cells = li.groupBy(
        F.col("l_partkey").alias("gene_id"),
        (F.col("l_suppkey") % 20).alias("sample_id"),
    ).agg(F.sum("l_quantity").cast("double").alias("value"))
    grid = (
        cells.select("gene_id")
        .distinct()
        .crossJoin(cells.select("sample_id").distinct())
        .join(cells, ["gene_id", "sample_id"], "left")
        .fillna({"value": 0.0})
    )
    out = mds_bmatrix(grid, "sample_id", "gene_id", "value", exact_scale=0)
    return out.select(
        "sa", "sb", "d2", F.round("b_centered", 9).alias("b_centered")
    )


ORACLE_MDS_BMATRIX = """
WITH cells AS (
  SELECT l_partkey AS gene_id, l_suppkey % 20 AS sample_id,
         CAST(SUM(l_quantity) AS DOUBLE) AS v
  FROM lineitem WHERE l_partkey <= 300 GROUP BY 1, 2
), grid AS (
  SELECT g.gene_id, s.sample_id, COALESCE(c.v, 0.0e0) AS v
  FROM (SELECT DISTINCT gene_id FROM cells) g
  CROSS JOIN (SELECT DISTINCT sample_id FROM cells) s
  LEFT JOIN cells c ON c.gene_id = g.gene_id AND c.sample_id = s.sample_id
), d2 AS (
  SELECT a.sample_id AS sa, b.sample_id AS sb,
         SUM(CAST(CAST(CAST(a.v AS DECIMAL(18,0)) - CAST(b.v AS DECIMAL(18,0))
                       AS DECIMAL(18,0))
             * CAST(CAST(a.v AS DECIMAL(18,0)) - CAST(b.v AS DECIMAL(18,0))
                    AS DECIMAL(18,0))
             AS DECIMAL(38,0))) AS dd
  FROM grid a JOIN grid b ON a.gene_id = b.gene_id
  GROUP BY 1, 2
), rowsum AS (
  SELECT sa, SUM(dd) AS rs, COUNT(*) AS s FROM d2 GROUP BY sa
), grand AS (
  SELECT SUM(rs) AS gs FROM rowsum
)
SELECT d.sa, d.sb, CAST(d.dd AS DOUBLE) AS d2,
       ROUND(-0.5e0 * (CAST(d.dd AS DOUBLE)
             - CAST(ra.rs AS DOUBLE) / CAST(ra.s AS DOUBLE)
             - CAST(rb.rs AS DOUBLE) / CAST(ra.s AS DOUBLE)
             + CAST(g.gs AS DOUBLE)
               / (CAST(ra.s AS DOUBLE) * CAST(ra.s AS DOUBLE))), 9)
       AS b_centered
FROM d2 d
JOIN rowsum ra ON d.sa = ra.sa
JOIN rowsum rb ON d.sb = rb.sa
CROSS JOIN grand g
"""


QUERIES_STATS["pca_covariance"] = q_pca_covariance
ORACLES_STATS["pca_covariance"] = ORACLE_PCA_COVARIANCE
QUERIES_STATS["mds_bmatrix"] = q_mds_bmatrix
ORACLES_STATS["mds_bmatrix"] = ORACLE_MDS_BMATRIX


def q_kmeans_lloyd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M12 cluster stage, HASH-GATED — two fixed Lloyd iterations with
    rational (sum, count) centroids and exact decimal distance
    numerators (`Study_effect.R:464` set.seed + kmeans; the free-run
    seeded fit stays rows-only as ``kmeans_samples``).  Assignment
    integers and squared distances are bitwise-reproducible, so the
    whole clustering is oracle-checkable."""
    from transcriptomics_data_integration_spark.stats.mlkernels import (
        kmeans_lloyd_fixed,
    )

    li = _t(spark, sf_dir, "lineitem").where(F.col("l_partkey") <= 60)
    cells = li.groupBy(
        F.col("l_partkey").alias("gene_id"),
        (F.col("l_suppkey") % 40).alias("sample_id"),
    ).agg(F.sum("l_quantity").cast("double").alias("value"))
    grid = (
        cells.select("gene_id")
        .distinct()
        .crossJoin(cells.select("sample_id").distinct())
        .join(cells, ["gene_id", "sample_id"], "left")
        .fillna({"value": 0.0})
    )
    out = kmeans_lloyd_fixed(grid, "sample_id", "gene_id", "value", k=3, n_iter=2)
    return out.select("sample_id", "cluster", "dist2")


def _oracle_kmeans_lloyd2(k: int = 3, n_iter: int = 2) -> str:
    num = "CAST(t.cn * c.x - t.cs AS DECIMAL(18,0))"
    parts = [
        f"""
WITH cells AS (
  SELECT l_partkey AS gene_id, l_suppkey % 40 AS sample_id,
         CAST(SUM(l_quantity) AS DOUBLE) AS v
  FROM lineitem WHERE l_partkey <= 60 GROUP BY 1, 2
), grid AS (
  SELECT g.gene_id, s.sample_id, COALESCE(c.v, 0.0e0) AS v
  FROM (SELECT DISTINCT gene_id FROM cells) g
  CROSS JOIN (SELECT DISTINCT sample_id FROM cells) s
  LEFT JOIN cells c ON c.gene_id = g.gene_id AND c.sample_id = s.sample_id
), cx AS (
  SELECT sample_id AS s, gene_id AS g, CAST(v AS DECIMAL(18,0)) AS x FROM grid
), ids AS (
  SELECT s, rn - 1 AS j FROM (
    SELECT s, ROW_NUMBER() OVER (ORDER BY s) AS rn
    FROM (SELECT DISTINCT s FROM cx)
  ) WHERE rn <= {k}
), cent0 AS (
  SELECT i.j, c.g, c.x AS cs, CAST(1 AS BIGINT) AS cn
  FROM cx c JOIN ids i ON c.s = i.s
)"""
    ]
    prev = "cent0"
    for it in range(1, n_iter + 1):
        parts.append(
            f""", sc{it} AS (
  SELECT c.s, t.j, t.cn,
         SUM(CAST({num} * {num} AS DECIMAL(38,0))) AS num
  FROM cx c JOIN {prev} t ON c.g = t.g GROUP BY 1, 2, 3
), a{it} AS (
  SELECT s, j, CAST(num AS DOUBLE) / CAST(cn * cn AS DOUBLE) AS dist2,
         ROW_NUMBER() OVER (
           PARTITION BY s
           ORDER BY CAST(num AS DOUBLE) / CAST(cn * cn AS DOUBLE), j
         ) AS rn
  FROM sc{it}
), cent{it} AS (
  SELECT a.j, c.g, SUM(c.x) AS cs, COUNT(*) AS cn
  FROM cx c JOIN (SELECT s, j FROM a{it} WHERE rn = 1) a ON c.s = a.s
  GROUP BY 1, 2
)"""
        )
        prev = f"cent{it}"
    parts.append(
        f"""
SELECT s AS sample_id, j AS cluster, dist2
FROM a{n_iter} WHERE rn = 1
"""
    )
    return "".join(parts)


QUERIES_STATS["kmeans_lloyd2"] = q_kmeans_lloyd2
ORACLES_STATS["kmeans_lloyd2"] = _oracle_kmeans_lloyd2()


def q_moderated_lmfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 eBayes on the general design — `lmfit_design`'s contrast t
    shrunk with the two-pass global variance prior
    (`DiffExpression_closedPlatform.R:546` eBayes after lmFit)."""
    from transcriptomics_data_integration_spark.stats.lmfit import (
        lmfit_design,
        moderated_lmfit,
    )

    li = _t(spark, sf_dir, "lineitem")
    fit = lmfit_design(
        li, "l_partkey", "l_returnflag = 'R'", "l_quantity", "l_extendedprice"
    )
    out = moderated_lmfit(fit)
    return out.select(
        "l_partkey",
        "n_obs",
        "beta1",
        "t_statistic",
        F.round("t_moderated", 6).alias("t_moderated"),
    )


def _oracle_moderated_lmfit() -> str:
    from transcriptomics_data_integration_spark.functions.special import (
        fitfdist_prior_ctes_sql,
    )
    from transcriptomics_data_integration_spark.stats.lmfit import (
        BETA0_SQL,
        BETA1_SQL,
        BETA2_SQL,
        DET_SQL,
        RSS_SQL,
        SE1_SQL,
        lmfit_moment_sql,
    )

    moments = lmfit_moment_sql("l_returnflag = 'R'", "l_quantity", "l_extendedprice")
    agg_cols = ",\n         ".join(f"{sql} AS {name}" for name, sql in moments.items())
    return f"""
WITH agg AS (
  SELECT l_partkey,
         {agg_cols}
  FROM lineitem GROUP BY l_partkey
), d AS (
  SELECT *, {DET_SQL} AS det FROM agg
), sol AS (
  SELECT *, {BETA0_SQL} AS beta0, {BETA1_SQL} AS beta1, {BETA2_SQL} AS beta2
  FROM d WHERE det > 0
), r AS (
  SELECT *, {RSS_SQL} AS rss FROM sol
), s AS (
  SELECT *, {SE1_SQL} AS se
  FROM r WHERE n > 3 AND rss > 0 AND n * s22 - s2 * s2 > 0
), t AS (
  SELECT *, beta1 / se AS t_statistic, rss / (n - 3) AS s2v,
         CAST(n - 3 AS DOUBLE) AS dfv
  FROM s WHERE se > 0
), s2t AS (
  SELECT s2v AS s2, dfv AS df FROM t
), {fitfdist_prior_ctes_sql("s2t")}
SELECT l_partkey, CAST(n AS BIGINT) AS n_obs, beta1, t_statistic,
       ROUND(t_statistic * sqrt(s2v /
         (CASE WHEN isinf(d0) THEN s20
               ELSE (d0 * s20 + dfv * s2v) / (d0 + dfv) END)), 6)
         AS t_moderated
FROM t CROSS JOIN ff_prior2
"""


QUERIES_STATS["moderated_lmfit"] = q_moderated_lmfit
ORACLES_STATS["moderated_lmfit"] = _oracle_moderated_lmfit()


def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto front of parts minimizing (retailprice, size):
    distinct-pair dedup + ONE running-min sort window instead of a
    quadratic dominance self-join (`operators/aggregates.py:
    skyline_2d`)."""
    from transcriptomics_data_integration_spark.operators.aggregates import skyline_2d

    part = _t(spark, sf_dir, "part")
    out = skyline_2d(part, "p_retailprice", "p_size")
    return out.select(
        F.col("p_retailprice").cast("double").alias("p_retailprice"),
        F.col("p_size").cast("long").alias("p_size"),
        "n_rows",
    )


ORACLE_SKYLINE = """
WITH pairs AS (
  SELECT p_retailprice AS x, p_size AS y, COUNT(*) AS n_rows
  FROM part GROUP BY 1, 2
), marked AS (
  SELECT x, y, n_rows,
         MIN(y) OVER (ORDER BY x ASC, y ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_min_y
  FROM pairs
)
SELECT CAST(x AS DOUBLE) AS p_retailprice, CAST(y AS BIGINT) AS p_size, n_rows
FROM marked WHERE prev_min_y IS NULL OR prev_min_y > y
"""

QUERIES_STATS["skyline"] = q_skyline
ORACLES_STATS["skyline"] = ORACLE_SKYLINE


def q_ks_strata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11's KS test between strata (`Study_effect.R:805`): two-sample
    Kolmogorov-Smirnov on order totals of urgent vs low-priority
    orders — per-value counts, running ECDF window over DISTINCT
    values, asymptotic Kolmogorov p (`stats/kstest.py`)."""
    from transcriptomics_data_integration_spark.stats.kstest import ks_test

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderpriority", F.col("o_totalprice").cast("double").alias("v")
    )
    out = ks_test(orders, "o_orderpriority", "v", "1-URGENT", "5-LOW")
    return out.select(
        "n1", "n2", F.round("d_stat", 9).alias("d_stat"), F.round("p_approx", 6).alias("p_approx")
    )


ORACLE_KS_STRATA = """
WITH tagged AS (
  SELECT o_totalprice AS v,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS is1
  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
), per_value AS (
  SELECT v, SUM(is1) AS c1, SUM(1 - is1) AS c2 FROM tagged GROUP BY v
), gaps AS (
  SELECT SUM(c1) OVER w AS cum1, SUM(c2) OVER w AS cum2
  FROM per_value
  WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), tot AS (
  SELECT cum1, cum2, MAX(cum1) OVER () AS n1, MAX(cum2) OVER () AS n2 FROM gaps
), agg AS (
  SELECT CAST(MAX(n1) AS BIGINT) AS n1, CAST(MAX(n2) AS BIGINT) AS n2,
         MAX(ABS(CAST(cum1 AS DOUBLE) / n1 - CAST(cum2 AS DOUBLE) / n2)) AS d_stat
  FROM tot
), lam AS (
  SELECT *,
         sqrt(CAST(n1 AS DOUBLE) * n2 / (n1 + n2)) * d_stat AS l
  FROM agg
)
SELECT n1, n2, ROUND(d_stat, 9) AS d_stat,
       ROUND(CASE WHEN l < 0.2 THEN 1.0
                  ELSE LEAST(GREATEST(
                    2*exp(-2*1*1*l*l) - 2*exp(-2*4*l*l) + 2*exp(-2*9*l*l)
                    - 2*exp(-2*16*l*l) + 2*exp(-2*25*l*l) - 2*exp(-2*36*l*l)
                    + 2*exp(-2*49*l*l) - 2*exp(-2*64*l*l), 0.0), 1.0) END, 6) AS p_approx
FROM lam
"""

QUERIES_STATS["ks_strata"] = q_ks_strata
ORACLES_STATS["ks_strata"] = ORACLE_KS_STRATA


def q_gsea_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GSEA enrichment score, HASH-GATED (r8,
    `stats/enrichment.py:gsea_enrichment_scores` — Subramanian et al.
    2005, p = 0 form): parts ranked by total lineitem quantity
    (integer sums, deterministic order), gene sets = p_type terms.
    The running-sum extremes are compared as INTEGER numerators over
    the per-term constant denominator, so arg-max/min, sign, and
    rank_at_max are bit-exact; only the reported ES divides (6 dp)."""
    from transcriptomics_data_integration_spark.stats.enrichment import (
        gsea_enrichment_scores,
    )

    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    ranked = (
        li.groupBy("l_partkey")
        .agg(F.sum("l_quantity").cast("bigint").alias("_qty"))
        .select(
            "l_partkey",
            F.row_number()
            .over(Window.orderBy(F.col("_qty").desc(), F.col("l_partkey")))
            .alias("rank"),
        )
    )
    terms = part.select(
        F.col("p_partkey").alias("l_partkey"), F.col("p_type").alias("term")
    )
    out = gsea_enrichment_scores(ranked, terms, "l_partkey", "term")
    return out.select(
        "term",
        "n_hits",
        F.round("es", 6).alias("es"),
        "es_sign",
        "rank_at_max",
    )


ORACLE_GSEA_ES = """
WITH ranked AS (
  SELECT l_partkey,
         ROW_NUMBER() OVER (
           ORDER BY CAST(SUM(l_quantity) AS BIGINT) DESC, l_partkey
         ) AS r
  FROM lineitem GROUP BY l_partkey
), n AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS N FROM ranked
), hits AS (
  SELECT p.p_type AS term, rk.r,
         ROW_NUMBER() OVER (PARTITION BY p.p_type ORDER BY rk.r) AS j,
         COUNT(*) OVER (PARTITION BY p.p_type) AS ht
  FROM part p JOIN ranked rk ON p.p_partkey = rk.l_partkey
), scored AS (
  SELECT term, r, j, CAST(ht AS BIGINT) AS ht, n.N,
         j * (n.N - ht) - (r - j) * ht AS num_after,
         (j - 1) * (n.N - ht) - (r - 1 - (j - 1)) * ht AS num_before
  FROM hits CROSS JOIN n
  WHERE ht < n.N
), per_term AS (
  SELECT term, MAX(ht) AS n_hits, MAX(N) AS N,
         MAX(num_after) AS mx_after,
         MIN(num_before) AS mn_before
  FROM scored GROUP BY term
), pos_pick AS (
  SELECT term, MIN(r) AS pos_r FROM scored s
  WHERE num_after = (SELECT MAX(num_after) FROM scored x WHERE x.term = s.term)
  GROUP BY term
), neg_pick AS (
  SELECT term, MIN(r) AS neg_r FROM scored s
  WHERE num_before = (SELECT MIN(num_before) FROM scored x WHERE x.term = s.term)
  GROUP BY term
)
SELECT p.term, CAST(p.n_hits AS BIGINT) AS n_hits,
       ROUND(CAST(CASE WHEN p.mx_after >= -p.mn_before
                       THEN p.mx_after ELSE p.mn_before END AS DOUBLE)
             / CAST(p.n_hits * (p.N - p.n_hits) AS DOUBLE), 6) AS es,
       CASE WHEN p.mx_after >= -p.mn_before THEN 1 ELSE -1 END AS es_sign,
       CAST(CASE WHEN p.mx_after >= -p.mn_before
                 THEN pp.pos_r ELSE np.neg_r END AS BIGINT) AS rank_at_max
FROM per_term p
JOIN pos_pick pp ON p.term = pp.term
JOIN neg_pick np ON p.term = np.term
"""

QUERIES_STATS["gsea_es"] = q_gsea_es
ORACLES_STATS["gsea_es"] = ORACLE_GSEA_ES


def q_p_adjust_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M10 Benjamini-Yekutieli adjustment, HASH-GATED (r10) — the
    second method of the reference DE scripts' documented ``adjust``
    argument (`DiffExpression_closedPlatform.R:24` declares
    {'none','BH','fdr','BY','holm'}; consumed by ``topTable`` at
    `:566,600`).  A deterministic p-set with heavy ties (orderkey
    Knuth-hash quantized to 4096 levels, so ~n/4096 rows share each p)
    runs through ``stats.bh.p_adjust(method="BY")``; the oracle replays R's exact
    formula — ordered-left-fold harmonic factor via ``list_reduce``,
    the ``q * n/i * p`` operand order, reverse cummin — so a hash
    match proves the doubles bit-for-bit, tie collapse included."""
    from transcriptomics_data_integration_spark.stats.bh import p_adjust

    orders = _t(spark, sf_dir, "orders")
    ps = orders.where((F.col("o_orderkey") % 4) == 1).select(
        F.col("o_orderkey").alias("id"),
        (
            ((F.col("o_orderkey") * F.lit(2654435761)) % F.lit(4096))
            / F.lit(4095.0)
        ).alias("p_value"),
    )
    return p_adjust(ps, "p_value", "adj_by", method="BY", tiebreak_col="id")


ORACLE_P_ADJUST_BY = """
WITH ps AS (
  SELECT o_orderkey AS id,
         ((o_orderkey * 2654435761) % 4096) / CAST(4095.0 AS DOUBLE) AS p_value
  FROM orders WHERE o_orderkey % 4 = 1
), nn AS (
  SELECT COUNT(*) AS n,
         list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(generate_series(1, COUNT(*)),
                            i -> CAST(1 AS DOUBLE) / i)),
           (a, b) -> a + b) AS cn
  FROM ps
), ranked AS (
  SELECT id, p_value, n, cn,
         ROW_NUMBER() OVER (ORDER BY p_value, id) AS r
  FROM ps, nn
), scaled AS (
  SELECT id, p_value, r,
         LEAST(cn * n / r * p_value, CAST(1.0 AS DOUBLE)) AS s
  FROM ranked
)
SELECT id, p_value,
       MIN(s) OVER (ORDER BY r DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS adj_by
FROM scaled
"""

QUERIES_STATS["p_adjust_by"] = q_p_adjust_by
ORACLES_STATS["p_adjust_by"] = ORACLE_P_ADJUST_BY


def q_p_adjust_holm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M10 Holm step-down FWER adjustment, HASH-GATED (r10) — the
    third method of the ``adjust`` argument surface (see
    ``q_p_adjust_by``).  Same tie-heavy deterministic p-set through
    ``stats.bh.p_adjust(method="holm")``; the oracle replays R's
    ``pmin(1, cummax((n - i + 1) * p[o]))`` as a forward-cummax
    window, proving the step-DOWN direction (the mirror of BH/BY's
    step-up reverse cummin) end-to-end."""
    from transcriptomics_data_integration_spark.stats.bh import p_adjust

    orders = _t(spark, sf_dir, "orders")
    ps = orders.where((F.col("o_orderkey") % 4) == 1).select(
        F.col("o_orderkey").alias("id"),
        (
            ((F.col("o_orderkey") * F.lit(2654435761)) % F.lit(4096))
            / F.lit(4095.0)
        ).alias("p_value"),
    )
    return p_adjust(ps, "p_value", "adj_holm", method="holm", tiebreak_col="id")


ORACLE_P_ADJUST_HOLM = """
WITH ps AS (
  SELECT o_orderkey AS id,
         ((o_orderkey * 2654435761) % 4096) / CAST(4095.0 AS DOUBLE) AS p_value
  FROM orders WHERE o_orderkey % 4 = 1
), nn AS (
  SELECT COUNT(*) AS n FROM ps
), ranked AS (
  SELECT id, p_value, n,
         ROW_NUMBER() OVER (ORDER BY p_value, id) AS r
  FROM ps, nn
), scaled AS (
  SELECT id, p_value, r,
         LEAST((n - r + 1) * p_value, CAST(1.0 AS DOUBLE)) AS s
  FROM ranked
)
SELECT id, p_value,
       MAX(s) OVER (ORDER BY r ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS adj_holm
FROM scaled
"""

QUERIES_STATS["p_adjust_holm"] = q_p_adjust_holm
ORACLES_STATS["p_adjust_holm"] = ORACLE_P_ADJUST_HOLM
