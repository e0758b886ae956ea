"""Declared query inventory: SURVEY.md section 2 operators instantiated
on the driver's synthetic tables (TESTDATA.md), each paired with an
ANSI-SQL oracle that DuckDB runs on the same parquet files.

Mapping conventions (gene-expression semantics onto the star schema):

- *expression fact*: ``lineitem`` — gene ~ ``l_partkey``, sample ~
  ``l_suppkey``, value ~ ``l_extendedprice``, platform ~
  ``l_linestatus``, biological group ~ ``l_returnflag``;
- *probe map / annotation dims*: ``part`` (probe->gene via
  ``p_brand``), ``customer``/``nation`` (sample sheets);
- *documents*/*embeddings*: the llmdata operator targets.

FP-reproducibility policy (functions/exact.py): sums/means/variances of
the fixed-precision fact columns are accumulated in DECIMAL and cast
back to double, making them bitwise-identical across engines with no
rounding; only outputs tainted by transcendental functions (ln / exp /
log2) carry a final round(6), since libm implementations may differ in
the last ulp.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from transcriptomics_data_integration_spark.functions.exact import (
    dec,
    dsum,
    dsum2,
    dsum2_sql,
    dsum_sql,
)
from transcriptomics_data_integration_spark.functions.normal import norm_ppf_sql, two_sided_p_sql
from transcriptomics_data_integration_spark.operators import (
    argmax_dedup,
    bitmask_venn,
    exclude_ids,
    frequency_table,
    library_size,
    reliability_filter,
    remove_outlier_samples,
    set_compare,
)
from transcriptomics_data_integration_spark.operators.filters import (
    low_value_floor,
    zero_repair,
)
from transcriptomics_data_integration_spark.stats import (
    fem_rem_effects,
    p_adjust,
    quantile_normalize,
    stouffer_combine,
    two_group_ttest,
)
from transcriptomics_data_integration_spark.stats.bh import _adjust
from transcriptomics_data_integration_spark.stats.genemeta import effect_sizes
from transcriptomics_data_integration_spark.suite_llm import ORACLES_LLM, QUERIES_LLM


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# Core relational queries (SURVEY.md sections 2.1-2.4, 2.6)
# ---------------------------------------------------------------------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Headline scan+agg (bench anchor; TPC-H Q1 shape).

    Exercises S1-style scan -> filter -> partial+final hash aggregation.
    """
    li = _t(spark, sf_dir, "lineitem")
    disc_price = dec(F.col("l_extendedprice")) * (
        F.lit(1).cast("decimal(18,2)") - dec(F.col("l_discount"))
    )
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            F.sum(disc_price.cast("decimal(38,4)")).cast("double").alias("sum_disc_price"),
            (F.sum("l_quantity") / F.count(F.lit(1))).alias("avg_qty"),
            (dsum(F.col("l_extendedprice")) / F.count(F.lit(1))).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


ORACLE_PRICING = f"""
SELECT l_returnflag, l_linestatus,
       SUM(l_quantity) AS sum_qty,
       {dsum_sql('l_extendedprice')} AS sum_base_price,
       CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                     * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                AS DECIMAL(38,4))) AS DOUBLE) AS sum_disc_price,
       SUM(l_quantity) / COUNT(*) AS avg_qty,
       {dsum_sql('l_extendedprice')} / COUNT(*) AS avg_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_gene_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2 — per-gene mean/sd/count (gene ~ l_partkey) with
    decimal-exact moments (`MultiGene2ProbeFilter.R:31`)."""
    li = _t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_partkey").agg(
        dsum(F.col("l_extendedprice")).alias("_s"),
        dsum2(F.col("l_extendedprice")).alias("_s2"),
        F.count("l_extendedprice").alias("n_obs"),
    )
    return agg.select(
        "l_partkey",
        (F.col("_s") / F.col("n_obs")).alias("mean_value"),
        F.sqrt(
            (F.col("_s2") - F.col("_s") * F.col("_s") / F.col("n_obs"))
            / (F.col("n_obs") - 1)
        ).alias("sd_value"),
        "n_obs",
    )


ORACLE_GENE_STATS = f"""
WITH agg AS (
  SELECT l_partkey,
         {dsum_sql('l_extendedprice')} AS s,
         {dsum2_sql('l_extendedprice')} AS s2,
         COUNT(l_extendedprice) AS n_obs
  FROM lineitem GROUP BY l_partkey
)
SELECT l_partkey,
       s / n_obs AS mean_value,
       sqrt((s2 - s * s / n_obs) / (n_obs - 1)) AS sd_value,
       n_obs
FROM agg
"""


def q_library_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 — per-sample library size (sample ~ l_suppkey); quantities are
    integer-valued so the double sum is exact in any order."""
    li = _t(spark, sf_dir, "lineitem")
    out = library_size(li, "l_suppkey", "l_quantity")
    return out.select("l_suppkey", "lib_size")


ORACLE_LIBRARY_SIZE = """
SELECT l_suppkey, SUM(l_quantity) AS lib_size
FROM lineitem GROUP BY l_suppkey
"""


def q_gene_exclusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 — anti-join exclusion list (drop large parts), summarized."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    excl = part.where(F.col("p_size") > 45).select(F.col("p_partkey").alias("l_partkey"))
    kept = exclude_ids(li, excl, "l_partkey")
    return kept.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum(F.col("l_extendedprice")).alias("sum_price"),
    )


ORACLE_GENE_EXCLUSION = f"""
SELECT l_returnflag, COUNT(*) AS n_rows,
       {dsum_sql('l_extendedprice')} AS sum_price
FROM lineitem
WHERE l_partkey NOT IN (SELECT p_partkey FROM part WHERE p_size > 45)
GROUP BY l_returnflag
"""


def q_outlier_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 — comma-packed outlier list -> split/explode -> anti-join.

    The packed dim is built from ``nation`` (nations with even key are
    "outlier samples" of their region), mirroring ``outliers_<study>.txt``
    (`QC_Affy_U133Plus2.R:162-164`).
    """
    nation = _t(spark, sf_dir, "nation")
    customer = _t(spark, sf_dir, "customer")
    packed = (
        nation.where(F.col("n_nationkey") % 2 == 0)
        .groupBy("n_regionkey")
        .agg(F.array_join(F.array_sort(F.collect_set("n_name")), ",").alias("samples2exclude"))
    )
    cust = customer.join(
        nation.select("n_nationkey", "n_name"),
        customer.c_nationkey == nation.n_nationkey,
    )
    kept = remove_outlier_samples(cust, packed, "samples2exclude", "n_name")
    return kept.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        dsum(F.col("c_acctbal")).alias("sum_acctbal"),
    )


ORACLE_OUTLIER_REMOVAL = f"""
WITH packed AS (
  SELECT n_regionkey, STRING_AGG(n_name, ',' ORDER BY n_name) AS samples2exclude
  FROM nation WHERE n_nationkey % 2 = 0 GROUP BY n_regionkey
), excl AS (
  SELECT DISTINCT TRIM(UNNEST(STRING_SPLIT(samples2exclude, ','))) AS n_name FROM packed
)
SELECT c_mktsegment, COUNT(*) AS n_customers,
       {dsum_sql('c_acctbal')} AS sum_acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE n_name NOT IN (SELECT n_name FROM excl)
GROUP BY c_mktsegment
"""


def q_zero_variance_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 — drop genes whose value (l_tax) has zero variance.

    The variance predicate is computed from decimal-exact moments so the
    keep/drop decision is identical on both engines even for
    all-equal-value groups (`DiffExpression_closedPlatform.R:375-376`).
    """
    li = _t(spark, sf_dir, "lineitem")
    var = (F.col("_s2") - F.col("_s") * F.col("_s") / F.col("_n")) / (F.col("_n") - 1)
    keep = (
        li.groupBy("l_partkey")
        .agg(
            dsum(F.col("l_tax")).alias("_s"),
            dsum2(F.col("l_tax")).alias("_s2"),
            F.count(F.lit(1)).alias("_n"),
        )
        .where(F.col("_n") >= 2)
        .where(var > 0)
        .select("l_partkey")
    )
    kept = li.join(keep, "l_partkey", "left_semi")
    return kept.agg(
        F.countDistinct("l_partkey").alias("n_genes"),
        F.count(F.lit(1)).alias("n_rows"),
    )


ORACLE_ZERO_VARIANCE = f"""
WITH agg AS (
  SELECT l_partkey,
         {dsum_sql('l_tax')} AS s,
         {dsum2_sql('l_tax')} AS s2,
         COUNT(*) AS n
  FROM lineitem GROUP BY l_partkey
), keep AS (
  SELECT l_partkey FROM agg
  WHERE n >= 2 AND (s2 - s * s / n) / (n - 1) > 0
)
SELECT COUNT(DISTINCT l_partkey) AS n_genes, COUNT(*) AS n_rows
FROM lineitem WHERE l_partkey IN (SELECT l_partkey FROM keep)
"""


def q_nonspecific_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5/W1 — keep top-200 genes by (decimal-exact) sd, summarize the
    surviving rows (`DiffExpression_closedPlatform.R:443-450`)."""
    li = _t(spark, sf_dir, "lineitem")
    var = (F.col("_s2") - F.col("_s") * F.col("_s") / F.col("_n")) / (F.col("_n") - 1)
    sd = li.groupBy("l_partkey").agg(
        dsum(F.col("l_extendedprice")).alias("_s"),
        dsum2(F.col("l_extendedprice")).alias("_s2"),
        F.count(F.lit(1)).alias("_n"),
    ).where(F.col("_n") >= 2).withColumn("_sd", F.sqrt(var))
    w = Window.orderBy(F.col("_sd").desc(), F.col("l_partkey"))
    keep = sd.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") <= 200).select("l_partkey")
    kept = li.join(F.broadcast(keep), "l_partkey", "left_semi")
    return kept.groupBy("l_linestatus").agg(
        F.countDistinct("l_partkey").alias("n_genes"),
        F.count(F.lit(1)).alias("n_rows"),
    )


ORACLE_NONSPECIFIC = f"""
WITH agg AS (
  SELECT l_partkey,
         {dsum_sql('l_extendedprice')} AS s,
         {dsum2_sql('l_extendedprice')} AS s2,
         COUNT(*) AS n
  FROM lineitem GROUP BY l_partkey
), sd AS (
  SELECT l_partkey, sqrt((s2 - s * s / n) / (n - 1)) AS sdv
  FROM agg WHERE n >= 2
), ranked AS (
  SELECT l_partkey, ROW_NUMBER() OVER (ORDER BY sdv DESC, l_partkey) AS rn FROM sd
)
SELECT l_linestatus, COUNT(DISTINCT l_partkey) AS n_genes, COUNT(*) AS n_rows
FROM lineitem WHERE l_partkey IN (SELECT l_partkey FROM ranked WHERE rn <= 200)
GROUP BY l_linestatus
"""


def q_reliability_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 — probeset reliability: per order, count "unreliable" lines
    (discount > 0.05 or tax > 0.05), require <= 2 and a single
    returnflag (~ single mapped gene) (`ProbeFilter.pl:99-160`)."""
    li = _t(spark, sf_dir, "lineitem")
    pred = (F.col("l_discount") > 0.05) | (F.col("l_tax") > 0.05)
    out = reliability_filter(li, "l_orderkey", pred, "l_returnflag", 2)
    return out.select("l_orderkey", "n_unreliable", "n_genes", "n_members")


ORACLE_RELIABILITY = """
SELECT l_orderkey,
       CAST(SUM(CASE WHEN l_discount > 0.05 OR l_tax > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_unreliable,
       COUNT(DISTINCT l_returnflag) AS n_genes,
       COUNT(*) AS n_members
FROM lineitem GROUP BY l_orderkey
HAVING SUM(CASE WHEN l_discount > 0.05 OR l_tax > 0.05 THEN 1 ELSE 0 END) <= 2
   AND COUNT(DISTINCT l_returnflag) = 1
"""


def q_dabg_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 — the reference's exact 3-condition DABG presence filter
    (`GenExpressionComb_Affy_HuEx1ST_DABGfilter.R:245,251-269,292-308`),
    HASH-GATED (r8).  Fabric: a probeset x sample intensity matrix
    from lineitem (500 probesets nested 5-per-transcript, 6 samples in
    3 groups, intensity = SUM(quantity) % 16 so the value-domain
    threshold v < 2^3 = 8 splits cells deterministically with NO float
    op anywhere), a planted crosshyb_type that drops probeset % 7 == 0.
    The oracle replays crosshyb keep, the group-pivot absent/present
    boolean reductions (strict single-sample branch included), the
    >= 2-groups transcript rule, and the final row filter verbatim."""
    from transcriptomics_data_integration_spark.operators.filters import dabg_filter

    li = _t(spark, sf_dir, "lineitem")
    cell = (
        li.select(
            (F.col("l_partkey") % 500).alias("probeset_id"),
            (F.col("l_suppkey") % 6).alias("sample_id"),
            F.col("l_quantity").cast("bigint").alias("_q"),
        )
        .groupBy("probeset_id", "sample_id")
        .agg((F.sum("_q") % 16).alias("intensity"))
        .withColumn("transcript_id", F.expr("probeset_id DIV 5"))
        .withColumn("group_id", F.col("sample_id") % 3)
        .withColumn(
            "crosshyb",
            F.when(F.col("probeset_id") % 7 == 0, F.lit(2)).otherwise(F.lit(1)),
        )
    )
    out = dabg_filter(
        cell,
        "probeset_id",
        "transcript_id",
        "sample_id",
        "group_id",
        "intensity",
        crosshyb_col="crosshyb",
        log2_threshold=3.0,
    )
    return out.select("transcript_id", "probeset_id", "sample_id", "intensity")


ORACLE_DABG = """
WITH cell AS (
  SELECT l_partkey % 500 AS probeset_id,
         (l_partkey % 500) // 5 AS transcript_id,
         l_suppkey % 6 AS sample_id,
         (l_suppkey % 6) % 3 AS group_id,
         SUM(CAST(l_quantity AS BIGINT)) % 16 AS intensity
  FROM lineitem
  GROUP BY 1, 2, 3, 4
), kept AS (
  SELECT * FROM cell WHERE probeset_id % 7 <> 0
), pg AS (
  SELECT probeset_id, group_id,
         SUM(CASE WHEN intensity < 8 THEN 1 ELSE 0 END) AS na,
         COUNT(*) AS n, MIN(intensity) AS v1
  FROM kept GROUP BY 1, 2
), ps_keep AS (
  SELECT DISTINCT probeset_id FROM pg
  WHERE CASE WHEN n = 1 THEN v1 > 8 ELSE 2 * na < n END
), ts AS (
  SELECT transcript_id, sample_id, group_id,
         CASE WHEN 2 * SUM(CASE WHEN intensity < 8 THEN 1 ELSE 0 END) < COUNT(*)
              THEN 1 ELSE 0 END AS p
  FROM kept GROUP BY 1, 2, 3
), tg AS (
  SELECT transcript_id, group_id
  FROM ts GROUP BY 1, 2 HAVING 2 * SUM(p) >= COUNT(*)
), tr_keep AS (
  SELECT transcript_id FROM tg GROUP BY 1 HAVING COUNT(*) >= 2
)
SELECT k.transcript_id, k.probeset_id, k.sample_id, CAST(k.intensity AS BIGINT) AS intensity
FROM kept k
JOIN ps_keep USING (probeset_id)
JOIN tr_keep USING (transcript_id)
"""


def q_value_conditioning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10+F11 — low-value floor then per-sample zero repair.

    Discounts below 0.02 are floored to 0 (F10,
    `GenExpressionComb_RNAseq.R:246-249`), then zeros are replaced by the
    per-supplier minimum non-zero discount (F11,
    `GenExpressionComb_Illum_HT_12_V3.R:57-67`).
    """
    li = _t(spark, sf_dir, "lineitem")
    floored = low_value_floor(li, "l_discount", 0.02, 0.0)
    repaired = zero_repair(floored, "l_suppkey", "l_discount")
    return repaired.groupBy("l_suppkey").agg(
        dsum(F.col("l_discount")).alias("sum_discount"),
        F.count(F.when(F.col("l_discount") == 0, 1)).alias("n_zero"),
    )


ORACLE_VALUE_CONDITIONING = f"""
WITH floored AS (
  SELECT l_suppkey,
         CASE WHEN l_discount < 0.02 THEN 0.0 ELSE l_discount END AS d
  FROM lineitem
), repaired AS (
  SELECT l_suppkey,
         CASE WHEN d = 0 THEN COALESCE(MIN(CASE WHEN d > 0 THEN d END) OVER (PARTITION BY l_suppkey), d)
              ELSE d END AS d
  FROM floored
)
SELECT l_suppkey, {dsum_sql('d')} AS sum_discount,
       COUNT(CASE WHEN d = 0 THEN 1 END) AS n_zero
FROM repaired GROUP BY l_suppkey
"""


def q_merge_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 — MergeFiles.pl-style keyed left-outer merge with NULL pad.

    Build side: customers in the BUILDING segment only, so non-matches
    exercise the NA-padding path (`MergeFiles.pl:113`).
    """
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    joined = orders.join(
        F.broadcast(customer),
        orders.o_custkey == customer.c_custkey,
        "left",
    )
    return joined.select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment")


ORACLE_MERGE_LEFT_JOIN = """
SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
FROM orders LEFT JOIN (SELECT * FROM customer WHERE c_mktsegment = 'BUILDING') c
ON o_custkey = c_custkey
"""


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 — genomic interval join with bucketed equi-key.

    Probes derived from ``part`` (25-bp loci), gene spans from
    ``customer`` (5-kb loci) on 23 synthetic chromosomes.  Per probe:
    first overlapping gene (by span start, then id) + overlap count
    (`ArrayAnnot.pl:116-155`).  The bucketed equi-prejoin turns Spark's
    broadcast-nested-loop theta join into a hash join (SURVEY.md
    section 4.4).
    """
    part = _t(spark, sf_dir, "part")
    customer = _t(spark, sf_dir, "customer")
    probes = part.select(
        F.col("p_partkey").alias("probe_id"),
        (F.col("p_partkey") % 23).cast("string").alias("chrom"),
        ((F.col("p_partkey") * 97) % 1000000).alias("start"),
    ).withColumn("end", F.col("start") + 24)
    genes = customer.select(
        F.col("c_custkey").alias("gene_id"),
        (F.col("c_custkey") % 23).cast("string").alias("chrom"),
        ((F.col("c_custkey") * 61) % 1000000).alias("g_start"),
    ).withColumn("g_end", F.col("g_start") + 5000)

    bucket = 65536
    g = genes.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                (F.col("g_start") / bucket).cast("long"),
                (F.col("g_end") / bucket).cast("long"),
            )
        ),
    )
    p = probes.withColumn(
        "bucket",
        F.explode(
            F.array_distinct(
                F.array(
                    (F.col("start") / bucket).cast("long"),
                    (F.col("end") / bucket).cast("long"),
                )
            )
        ),
    )
    matches = (
        p.join(g, ["chrom", "bucket"])
        .where((F.col("start") <= F.col("g_end")) & (F.col("end") >= F.col("g_start")))
        .select("probe_id", "gene_id", "g_start")
        .dropDuplicates(["probe_id", "gene_id"])
    )
    return matches.groupBy("probe_id").agg(
        F.min(F.struct("g_start", "gene_id"))["gene_id"].alias("first_gene"),
        F.countDistinct("gene_id").alias("gene_no"),
    )


ORACLE_INTERVAL_JOIN = """
WITH probes AS (
  SELECT p_partkey AS probe_id,
         CAST(p_partkey % 23 AS VARCHAR) AS chrom,
         (p_partkey * 97) % 1000000 AS s,
         (p_partkey * 97) % 1000000 + 24 AS e
  FROM part
), genes AS (
  SELECT c_custkey AS gene_id,
         CAST(c_custkey % 23 AS VARCHAR) AS chrom,
         (c_custkey * 61) % 1000000 AS gs,
         (c_custkey * 61) % 1000000 + 5000 AS ge
  FROM customer
), matches AS (
  SELECT probe_id, gene_id, gs
  FROM probes JOIN genes USING (chrom)
  WHERE s <= ge AND e >= gs
), ranked AS (
  SELECT probe_id, gene_id,
         ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY gs, gene_id) AS rn
  FROM matches
), counts AS (
  SELECT probe_id, COUNT(DISTINCT gene_id) AS gene_no FROM matches GROUP BY probe_id
)
SELECT r.probe_id, r.gene_id AS first_gene, c.gene_no
FROM ranked r JOIN counts c ON r.probe_id = c.probe_id
WHERE r.rn = 1
"""


def q_argmax_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/W2 — one-probe-one-gene collapse: per brand keep the part with
    the max (decimal-exact) price variance (`MultiGene2ProbeFilter.R:50-64`)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    var = (F.col("_s") * F.col("_s") / F.col("_n") - F.col("_s2")) * -1
    var_per_part = (
        li.groupBy("l_partkey")
        .agg(
            dsum(F.col("l_extendedprice")).alias("_s"),
            dsum2(F.col("l_extendedprice")).alias("_s2"),
            F.count(F.lit(1)).alias("_n"),
        )
        .where(F.col("_n") >= 2)
        .withColumn(
            "var_value",
            (F.col("_s2") - F.col("_s") * F.col("_s") / F.col("_n")) / (F.col("_n") - 1),
        )
        .select("l_partkey", "var_value")
    )
    annotated = var_per_part.join(
        F.broadcast(part.select(F.col("p_partkey").alias("l_partkey"), "p_brand")),
        "l_partkey",
    )
    best = argmax_dedup(annotated, "p_brand", "var_value", "l_partkey")
    return best.select("p_brand", F.col("l_partkey").alias("best_part"), "var_value")


ORACLE_ARGMAX_DEDUP = f"""
WITH agg AS (
  SELECT l_partkey,
         {dsum_sql('l_extendedprice')} AS s,
         {dsum2_sql('l_extendedprice')} AS s2,
         COUNT(*) AS n
  FROM lineitem GROUP BY l_partkey
), v AS (
  SELECT l_partkey, (s2 - s * s / n) / (n - 1) AS var_value
  FROM agg WHERE n >= 2
), a AS (
  SELECT p_brand, l_partkey, var_value,
         ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY var_value DESC, l_partkey) AS rn
  FROM v JOIN part ON l_partkey = p_partkey
)
SELECT p_brand, l_partkey AS best_part, var_value
FROM a WHERE rn = 1
"""


def q_dedup_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 — deterministic dropDuplicates: first order per customer
    (`Meta_analysis.R:201,211` !duplicated)."""
    orders = _t(spark, sf_dir, "orders")
    first = argmax_dedup(
        orders.withColumn("_neg", -F.col("o_orderkey")), "o_custkey", "_neg", "o_orderkey"
    )
    return first.select("o_custkey", F.col("o_orderkey").alias("first_orderkey"))


ORACLE_DEDUP_ROWS = """
SELECT o_custkey, MIN(o_orderkey) AS first_orderkey
FROM orders GROUP BY o_custkey
"""


def q_set_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 — union/intersect/setdiff cardinalities of two gene sets
    (parts shipped 1995-H1 vs 1995-H2) (`Meta_analysis.R:1060-1066`)."""
    li = _t(spark, sf_dir, "lineitem")
    a = li.where(
        (F.col("l_shipdate") >= "1995-01-01") & (F.col("l_shipdate") < "1995-07-01")
    ).select(F.col("l_partkey").alias("k"))
    b = li.where(
        (F.col("l_shipdate") >= "1995-07-01") & (F.col("l_shipdate") < "1996-01-01")
    ).select(F.col("l_partkey").alias("k"))
    return set_compare(a, b, "k")


ORACLE_SET_COMPARE = """
WITH a AS (
  SELECT DISTINCT l_partkey AS k FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1995-07-01'
), b AS (
  SELECT DISTINCT l_partkey AS k FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1995-07-01' AND l_shipdate < TIMESTAMP '1996-01-01'
), f AS (
  SELECT COALESCE(a.k, b.k) AS k, a.k IS NOT NULL AS in_a, b.k IS NOT NULL AS in_b
  FROM a FULL OUTER JOIN b ON a.k = b.k
)
SELECT COUNT(*) AS n_union,
       CAST(SUM(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) AS BIGINT) AS n_intersect,
       CAST(SUM(CASE WHEN NOT in_b THEN 1 ELSE 0 END) AS BIGINT) AS n_only_a,
       CAST(SUM(CASE WHEN NOT in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_only_b
FROM f
"""


def q_frequency_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 — histogram of lines-per-order (`ProbeFilter.pl:166-216`)."""
    li = _t(spark, sf_dir, "lineitem")
    return frequency_table(li, "l_orderkey")


ORACLE_FREQUENCY = """
WITH sizes AS (
  SELECT l_orderkey, COUNT(*) AS group_size FROM lineitem GROUP BY l_orderkey
)
SELECT group_size, COUNT(*) AS n_groups FROM sizes GROUP BY group_size
"""


def q_venn_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 — k-set Venn counts via membership bitmask
    (`overLapper.R:52-79`): parts x the set of return flags seen."""
    li = _t(spark, sf_dir, "lineitem")
    return bitmask_venn(li, "l_partkey", "l_returnflag")


ORACLE_VENN = """
WITH m AS (
  SELECT l_partkey, STRING_AGG(DISTINCT l_returnflag, '|' ORDER BY l_returnflag) AS membership
  FROM lineitem GROUP BY l_partkey
)
SELECT membership, COUNT(*) AS n_elements FROM m GROUP BY membership
"""


def q_quantile_thresholds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 — exact percentiles of order totals
    (`Meta_analysis.R:1360-1368` top/bottom deciles)."""
    orders = _t(spark, sf_dir, "orders")
    qs = [0.1, 0.25, 0.5, 0.75, 0.9]
    agg = orders.agg(F.percentile("o_totalprice", F.lit(qs)).alias("_p"))
    return agg.select(F.posexplode("_p").alias("pos", "threshold")).select(
        "pos", F.round("threshold", 4).alias("threshold")
    )


ORACLE_QUANTILES = """
WITH q AS (
  SELECT UNNEST(ARRAY[0, 1, 2, 3, 4]) AS pos,
         UNNEST(quantile_cont(o_totalprice, [0.1, 0.25, 0.5, 0.75, 0.9])) AS threshold
  FROM orders
)
SELECT pos, ROUND(threshold, 4) AS threshold FROM q
"""


def q_sample_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 — per-sample Pearson correlation of price vs quantity from
    decimal-exact cross-moments (`Study_effect.R:320-398`)."""
    li = _t(spark, sf_dir, "lineitem")
    x = dec(F.col("l_extendedprice"), 2)
    y = dec(F.col("l_quantity"), 0)
    agg = li.groupBy("l_suppkey").agg(
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum((x * y).cast("decimal(38,2)")).cast("double").alias("sxy"),
        F.sum((x * x).cast("decimal(38,4)")).cast("double").alias("sx2"),
        F.sum((y * y).cast("decimal(38,0)")).cast("double").alias("sy2"),
        F.count(F.lit(1)).alias("n"),
    )
    r = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx"))
        * F.sqrt(F.col("n") * F.col("sy2") - F.col("sy") * F.col("sy"))
    )
    # a*b - c*d patterns may compile to FMA in DuckDB (ulp drift) —
    # round(6) absorbs it; r is irrational so no decimal-tie risk.
    return agg.select("l_suppkey", F.round(r, 6).alias("r"))


ORACLE_CORRELATION = """
WITH agg AS (
  SELECT l_suppkey,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,0))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,0)) AS DECIMAL(38,2))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS sx2,
         CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,0)) * CAST(l_quantity AS DECIMAL(18,0)) AS DECIMAL(38,0))) AS DOUBLE) AS sy2,
         COUNT(*) AS n
  FROM lineitem GROUP BY l_suppkey
)
SELECT l_suppkey,
       ROUND((n * sxy - sx * sy) / (sqrt(n * sx2 - sx * sx) * sqrt(n * sy2 - sy * sy)), 6) AS r
FROM agg
"""


def q_quantile_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1/W6 — quantile normalization of the (sample ~ supplier) value
    distributions (`GenExpressionComb_Affy_U133Plus2.R:149-156`).  The
    reference distribution (mean per rank) uses decimal-exact sums."""
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "row_id", F.col("l_orderkey") * 10 + F.col("l_linenumber")
    )
    w = Window.partitionBy("l_suppkey").orderBy(F.col("l_extendedprice").asc(), F.col("row_id").asc())
    ranked = li.withColumn("_rank", F.row_number().over(w))
    ref = ranked.groupBy("_rank").agg(
        (dsum(F.col("l_extendedprice")) / F.count(F.lit(1))).alias("qn_value")
    )
    joined = ranked.join(F.broadcast(ref), "_rank")
    return joined.select("l_suppkey", "row_id", "qn_value")


ORACLE_QUANTILE_NORM = f"""
WITH ranked AS (
  SELECT l_suppkey, l_orderkey * 10 + l_linenumber AS row_id, l_extendedprice,
         ROW_NUMBER() OVER (
           PARTITION BY l_suppkey
           ORDER BY l_extendedprice, l_orderkey * 10 + l_linenumber
         ) AS rank
  FROM lineitem
), ref AS (
  SELECT rank, {dsum_sql('l_extendedprice')} / COUNT(*) AS qn_value
  FROM ranked GROUP BY rank
)
SELECT ranked.l_suppkey, ranked.row_id, ref.qn_value
FROM ranked JOIN ref ON ranked.rank = ref.rank
"""


# ---------------------------------------------------------------------------
# Statistical kernels (SURVEY.md section 2.5) — shared oracle fragments
# ---------------------------------------------------------------------------


def _ttest_cte(
    group_by: str,
    extra_col: str,
    table_filter: str,
    value_expr: str = "l_extendedprice",
    scale: int = 2,
) -> str:
    """Oracle CTE chain computing the exact-moment pooled t per group.

    Mirrors stats/ttest.py `group_moment_aggregates` + `two_group_ttest` op
    shapes exactly (same IEEE op sequence on identical inputs).
    """
    case_a = f"CASE WHEN l_returnflag = 'R' THEN {value_expr} END"
    case_b = f"CASE WHEN l_returnflag = 'A' THEN {value_expr} END"
    return f"""
agg AS (
  SELECT {group_by}{extra_col},
         COUNT({case_a}) AS n_a,
         COUNT({case_b}) AS n_b,
         {dsum_sql(case_a, scale)} AS sa,
         {dsum_sql(case_b, scale)} AS sb,
         {dsum2_sql(case_a, scale)} AS sa2,
         {dsum2_sql(case_b, scale)} AS sb2
  FROM lineitem
  WHERE l_returnflag IN ('R', 'A'){table_filter}
  GROUP BY ALL
  HAVING COUNT({case_a}) >= 2 AND COUNT({case_b}) >= 2
), m AS (
  SELECT * EXCLUDE (sa, sb, sa2, sb2),
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
  SELECT * EXCLUDE (se), (mean_a - mean_b) / se AS t_statistic
  FROM t0 WHERE se > 0
), de AS (
  SELECT *, {two_sided_p_sql('t_statistic')} AS p_value FROM tt
)
"""


def q_diff_expression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 closed form + M10 — per-gene pooled t between return flags
    'R' and 'A' on price, normal-approx p, BH adjustment
    (`DiffExpression_closedPlatform.R:474-633`, `:566` adjust="BH")."""
    li = _t(spark, sf_dir, "lineitem")
    tt = two_group_ttest(li, "l_partkey", "l_returnflag", "l_extendedprice", "R", "A")
    adj = p_adjust(tt, "p_value", "adj_p_value", method="BH", tiebreak_col="l_partkey")
    return adj.select(
        "l_partkey",
        "n_a",
        "n_b",
        "mean_a",
        "mean_b",
        "t_statistic",
        F.round("log2fc", 6).alias("log2fc"),
        F.round("p_value", 8).alias("p_value"),
        F.round("adj_p_value", 8).alias("adj_p_value"),
    )


def _oracle_diff_expression() -> str:
    return f"""
WITH {_ttest_cte("l_partkey", "", "")}, b AS (
  SELECT *,
         ROW_NUMBER() OVER (ORDER BY p_value, l_partkey) AS rnk,
         COUNT(*) OVER () AS nn
  FROM de
), adj AS (
  SELECT *,
         MIN(LEAST(p_value * nn / rnk, 1.0e0)) OVER (
           ORDER BY p_value DESC, l_partkey DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS adj_p_value
  FROM b
)
SELECT l_partkey, n_a, n_b, mean_a, mean_b, t_statistic,
       ROUND(log2fc, 6) AS log2fc,
       ROUND(p_value, 8) AS p_value,
       ROUND(adj_p_value, 8) AS adj_p_value
FROM adj
"""


def q_bh_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M10 scale path — same DE p-set as ``diff_expression`` but
    adjusted on the bucketed arm of BH (bucket-partitioned windows, no
    global single-partition sort; see ``operators/windows.py``).  Output is
    bit-identical to the sort-window form, so the oracle is the standard
    BH SQL — this query IS the equivalence proof at gate SF."""
    li = _t(spark, sf_dir, "lineitem")
    tt = two_group_ttest(li, "l_partkey", "l_returnflag", "l_extendedprice", "R", "A")
    adj = _adjust(tt, "p_value", "adj_p_value", "BH", None, "l_partkey", single_task=False)
    return adj.select(
        "l_partkey",
        F.round("p_value", 8).alias("p_value"),
        F.round("adj_p_value", 8).alias("adj_p_value"),
    )


def _oracle_bh_histogram() -> str:
    return f"""
WITH {_ttest_cte("l_partkey", "", "")}, b AS (
  SELECT *,
         ROW_NUMBER() OVER (ORDER BY p_value, l_partkey) AS rnk,
         COUNT(*) OVER () AS nn
  FROM de
), adj AS (
  SELECT *,
         MIN(LEAST(p_value * nn / rnk, 1.0e0)) OVER (
           ORDER BY p_value DESC, l_partkey DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS adj_p_value
  FROM b
)
SELECT l_partkey,
       ROUND(p_value, 8) AS p_value,
       ROUND(adj_p_value, 8) AS adj_p_value
FROM adj
"""


def q_de_adjust_methods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M10 full method surface through the REAL DE chain, HASH-GATED
    (r10) — the reference's documented ``adjust`` argument
    (`DiffExpression_closedPlatform.R:24`, consumed by ``topTable`` at
    `:566,600`) exercised end-to-end: the same pooled-t p-set as
    ``diff_expression``, adjusted with BOTH Benjamini-Yekutieli
    (R operand order ``c(n) * n/i * p``, ordered-left-fold harmonic)
    and Holm step-down in one output.  The oracle replays R's exact
    arithmetic (list_reduce left fold for c(n), reverse cummin /
    forward cummax windows), so a hash match proves the dispatcher's
    two non-BH methods on production-shaped p-values, ties included."""
    li = _t(spark, sf_dir, "lineitem")
    tt = two_group_ttest(li, "l_partkey", "l_returnflag", "l_extendedprice", "R", "A")
    out = p_adjust(tt, "p_value", "adj_by", method="BY", tiebreak_col="l_partkey")
    out = p_adjust(out, "p_value", "adj_holm", method="holm", tiebreak_col="l_partkey")
    return out.select(
        "l_partkey",
        F.round("p_value", 8).alias("p_value"),
        F.round("adj_by", 8).alias("adj_by"),
        F.round("adj_holm", 8).alias("adj_holm"),
    )


def _oracle_de_adjust_methods() -> str:
    return f"""
WITH {_ttest_cte("l_partkey", "", "")}, b AS (
  SELECT *,
         ROW_NUMBER() OVER (ORDER BY p_value, l_partkey) AS rnk,
         COUNT(*) OVER () AS nn
  FROM de
), h AS (
  SELECT list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(generate_series(1, (SELECT MAX(nn) FROM b)),
                            i -> CAST(1 AS DOUBLE) / i)),
           (a, x) -> a + x) AS cn
), adj AS (
  SELECT b.*,
         MIN(LEAST(h.cn * b.nn / b.rnk * b.p_value, CAST(1.0 AS DOUBLE))) OVER (
           ORDER BY b.p_value DESC, b.l_partkey DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS adj_by,
         MAX(LEAST((b.nn - b.rnk + 1) * b.p_value, CAST(1.0 AS DOUBLE))) OVER (
           ORDER BY b.p_value, b.l_partkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS adj_holm
  FROM b, h
)
SELECT l_partkey,
       ROUND(p_value, 8) AS p_value,
       ROUND(adj_by, 8) AS adj_by,
       ROUND(adj_holm, 8) AS adj_holm
FROM adj
"""


def q_stouffer_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15 — weighted Stouffer combination of per-platform DE results
    (platform ~ l_linestatus), ICC-weighted (`Meta_analysis.R:76-121,
    1211-1228`)."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_linestatus").isin(["O", "F"]))
    # one aggregation over the composite (gene, platform) key — a single
    # scan + shuffle instead of one t-test pass per platform
    de = two_group_ttest(
        li.withColumn("platform", F.col("l_linestatus")),
        ["l_partkey", "platform"],
        "l_returnflag",
        "l_extendedprice",
        "R",
        "A",
    )
    de = de.withColumn("icc", ((F.col("l_partkey") % 100) - 50) / 62.5)
    comb = stouffer_combine(de, "l_partkey", "platform", "p_value", "log2fc", "icc")
    return comb.select(
        "l_partkey",
        "n_platforms",
        F.round("avg_log2fc", 6).alias("avg_log2fc"),
        F.round("z_comb", 6).alias("z_comb"),
        F.round("p_comb", 8).alias("p_comb"),
    )


def _oracle_stouffer() -> str:
    qn = norm_ppf_sql("((p_value) / 2.0e0)")
    z_expr = f"CASE WHEN (log2fc) > 0 THEN {qn} ELSE -({qn}) END"
    p_comb = two_sided_p_sql("z_comb")
    return f"""
WITH {_ttest_cte("l_partkey", ", l_linestatus AS platform", " AND l_linestatus IN ('O', 'F')")}, z AS (
  SELECT l_partkey, log2fc,
         {z_expr} AS z,
         GREATEST(ABS(log2fc) + ABS(log2fc)
                  * ((CAST(l_partkey % 100 AS DOUBLE) - 50) / 62.5)
                  * ((CAST(l_partkey % 100 AS DOUBLE) - 50) / 62.5), 0.0e0) AS w_raw
  FROM de
), comb AS (
  SELECT l_partkey,
         COUNT(*) AS n_platforms,
         AVG(log2fc) AS avg_log2fc,
         SUM(SQRT(ABS(log2fc)) * z) / SQRT(SUM(w_raw)) AS z_comb
  FROM z GROUP BY l_partkey HAVING COUNT(*) > 1
)
SELECT l_partkey, n_platforms,
       ROUND(avg_log2fc, 6) AS avg_log2fc,
       ROUND(z_comb, 6) AS z_comb,
       ROUND({p_comb}, 8) AS p_comb
FROM comb
"""


def q_fem_rem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 — FEM/REM effect-size meta-analysis across platforms
    (`Meta_analysis.R:756-840`; Choi et al. 2003).  All outputs are
    rational/sqrt chains of decimal-exact moments — no rounding."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_linestatus").isin(["O", "F"]))
    eff = effect_sizes(
        li, "l_partkey", "l_linestatus", "l_returnflag", "l_extendedprice", "A", "R"
    )
    out = fem_rem_effects(eff, "l_partkey")
    return out.select(
        "l_partkey", "n_studies", "q_stat", "tau2", "mu_fem", "z_fem", "mu_rem", "z_rem"
    )


def _oracle_fem_rem() -> str:
    case_a = "CASE WHEN l_returnflag = 'A' THEN l_extendedprice END"
    case_r = "CASE WHEN l_returnflag = 'R' THEN l_extendedprice END"
    return f"""
WITH agg AS (
  SELECT l_partkey, l_linestatus AS platform,
         COUNT({case_a}) AS n0,
         COUNT({case_r}) AS n1,
         {dsum_sql(case_a)} AS s0,
         {dsum_sql(case_r)} AS s1,
         {dsum2_sql(case_a)} AS s02,
         {dsum2_sql(case_r)} AS s12
  FROM lineitem
  WHERE l_returnflag IN ('A', 'R') AND l_linestatus IN ('O', 'F')
  GROUP BY ALL
  HAVING COUNT({case_a}) >= 2 AND COUNT({case_r}) >= 2
), m AS (
  SELECT l_partkey, platform, n0, n1,
         s0 / n0 AS m0, s1 / n1 AS m1,
         (s02 - s0 * s0 / n0) / (n0 - 1) AS v0,
         (s12 - s1 * s1 / n1) / (n1 - 1) AS v1
  FROM agg
), d AS (
  SELECT l_partkey, platform, n0, n1, m0, m1,
         sqrt(((n0 - 1) * v0 + (n1 - 1) * v1) / (n0 + n1 - 2)) AS sp
  FROM m
), d2 AS (
  SELECT l_partkey, platform, n0, n1, (m1 - m0) / sp AS d_raw
  FROM d WHERE sp > 0
), eff AS (
  SELECT l_partkey, platform, n0, n1,
         d_raw - 3.0e0 * d_raw / (4.0e0 * (n0 + n1) - 9.0e0) AS d_adj
  FROM d2
), eff2 AS (
  SELECT *,
         1.0e0 / n0 + 1.0e0 / n1 + d_adj * d_adj / (2.0e0 * (n0 + n1)) AS var_d
  FROM eff
), fem AS (
  SELECT l_partkey,
         COUNT(*) AS n_studies,
         SUM(1.0e0 / var_d) AS sw,
         SUM((1.0e0 / var_d) * (1.0e0 / var_d)) AS sw2,
         SUM((1.0e0 / var_d) * d_adj) AS swd,
         SUM((1.0e0 / var_d) * d_adj * d_adj) AS swd2
  FROM eff2 GROUP BY l_partkey HAVING COUNT(*) > 1
), fem2 AS (
  SELECT l_partkey, n_studies,
         swd / sw AS mu_fem,
         swd2 - swd * swd / sw AS q_stat,
         (swd / sw) * sqrt(sw) AS z_fem,
         GREATEST((swd2 - swd * swd / sw - (n_studies - 1)) / (sw - sw2 / sw), 0.0e0) AS tau2
  FROM fem
), rem AS (
  SELECT e.l_partkey,
         SUM(1.0e0 / (e.var_d + f.tau2)) AS swr,
         SUM((1.0e0 / (e.var_d + f.tau2)) * e.d_adj) AS swrd
  FROM eff2 e JOIN fem2 f ON e.l_partkey = f.l_partkey
  GROUP BY e.l_partkey
)
SELECT f.l_partkey, f.n_studies, f.q_stat, f.tau2, f.mu_fem, f.z_fem,
       r.swrd / r.swr AS mu_rem,
       (r.swrd / r.swr) * sqrt(r.swr) AS z_rem
FROM fem2 f JOIN rem r ON f.l_partkey = r.l_partkey
"""


def q_p_improvement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16 — per-platform p-value improvement log2(p / p_comb)
    (`Meta_analysis.R:1267-1284`)."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_linestatus").isin(["O", "F"]))
    # one aggregation over the composite (gene, platform) key — a single
    # scan + shuffle instead of one t-test pass per platform
    de = two_group_ttest(
        li.withColumn("platform", F.col("l_linestatus")),
        ["l_partkey", "platform"],
        "l_returnflag",
        "l_extendedprice",
        "R",
        "A",
    )
    de = de.withColumn("icc", ((F.col("l_partkey") % 100) - 50) / 62.5)
    comb = stouffer_combine(de, "l_partkey", "platform", "p_value", "log2fc", "icc")
    joined = de.join(comb.select("l_partkey", "p_comb"), "l_partkey")
    return joined.select(
        "l_partkey",
        "platform",
        F.round(F.log2(F.col("p_value") / F.col("p_comb")), 6).alias("p_improvement"),
    )


def _oracle_p_improvement() -> str:
    qn = norm_ppf_sql("((p_value) / 2.0e0)")
    z_expr = f"CASE WHEN (log2fc) > 0 THEN {qn} ELSE -({qn}) END"
    p_comb = two_sided_p_sql("z_comb")
    return f"""
WITH {_ttest_cte("l_partkey", ", l_linestatus AS platform", " AND l_linestatus IN ('O', 'F')")}, z AS (
  SELECT l_partkey, platform, p_value, log2fc,
         {z_expr} AS z,
         GREATEST(ABS(log2fc) + ABS(log2fc)
                  * ((CAST(l_partkey % 100 AS DOUBLE) - 50) / 62.5)
                  * ((CAST(l_partkey % 100 AS DOUBLE) - 50) / 62.5), 0.0e0) AS w_raw
  FROM de
), comb AS (
  SELECT l_partkey,
         SUM(SQRT(ABS(log2fc)) * z) / SQRT(SUM(w_raw)) AS z_comb
  FROM z GROUP BY l_partkey HAVING COUNT(*) > 1
), pc AS (
  SELECT l_partkey, {p_comb} AS p_comb FROM comb
)
SELECT d.l_partkey, d.platform,
       ROUND(log2(d.p_value / pc.p_comb), 6) AS p_improvement
FROM de d JOIN pc ON d.l_partkey = pc.l_partkey
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {
    "pricing_summary": q_pricing_summary,
    "gene_stats": q_gene_stats,
    "library_size": q_library_size,
    "gene_exclusion": q_gene_exclusion,
    "outlier_removal": q_outlier_removal,
    "zero_variance_filter": q_zero_variance_filter,
    "nonspecific_filter": q_nonspecific_filter,
    "reliability_filter": q_reliability_filter,
    "dabg_filter": q_dabg_filter,
    "value_conditioning": q_value_conditioning,
    "merge_left_join": q_merge_left_join,
    "interval_join": q_interval_join,
    "argmax_dedup": q_argmax_dedup,
    "dedup_rows": q_dedup_rows,
    "set_compare": q_set_compare,
    "frequency_table": q_frequency_table,
    "venn_membership": q_venn_membership,
    "quantile_thresholds": q_quantile_thresholds,
    "sample_correlation": q_sample_correlation,
    "quantile_normalization": q_quantile_normalization,
    "diff_expression": q_diff_expression,
    "bh_histogram": q_bh_histogram,
    "de_adjust_methods": q_de_adjust_methods,
    "stouffer_meta": q_stouffer_meta,
    "fem_rem": q_fem_rem,
    "p_improvement": q_p_improvement,
    **QUERIES_LLM,
}

from transcriptomics_data_integration_spark.suite_stats import ORACLES_STATS, QUERIES_STATS  # noqa: E402 (suite_stats imports _ttest_cte from this module)

QUERIES.update(QUERIES_STATS)

from transcriptomics_data_integration_spark.suite_norm import ORACLES_NORM, QUERIES_NORM  # noqa: E402

QUERIES.update(QUERIES_NORM)

from transcriptomics_data_integration_spark.suite_ml import QUERIES_ML  # noqa: E402

QUERIES.update(QUERIES_ML)  # rows-only checked: no ORACLES entries

ORACLES: dict[str, str] = {
    "pricing_summary": ORACLE_PRICING,
    "gene_stats": ORACLE_GENE_STATS,
    "library_size": ORACLE_LIBRARY_SIZE,
    "gene_exclusion": ORACLE_GENE_EXCLUSION,
    "outlier_removal": ORACLE_OUTLIER_REMOVAL,
    "zero_variance_filter": ORACLE_ZERO_VARIANCE,
    "nonspecific_filter": ORACLE_NONSPECIFIC,
    "reliability_filter": ORACLE_RELIABILITY,
    "dabg_filter": ORACLE_DABG,
    "value_conditioning": ORACLE_VALUE_CONDITIONING,
    "merge_left_join": ORACLE_MERGE_LEFT_JOIN,
    "interval_join": ORACLE_INTERVAL_JOIN,
    "argmax_dedup": ORACLE_ARGMAX_DEDUP,
    "dedup_rows": ORACLE_DEDUP_ROWS,
    "set_compare": ORACLE_SET_COMPARE,
    "frequency_table": ORACLE_FREQUENCY,
    "venn_membership": ORACLE_VENN,
    "quantile_thresholds": ORACLE_QUANTILES,
    "sample_correlation": ORACLE_CORRELATION,
    "quantile_normalization": ORACLE_QUANTILE_NORM,
    "diff_expression": _oracle_diff_expression(),
    "bh_histogram": _oracle_bh_histogram(),
    "de_adjust_methods": _oracle_de_adjust_methods(),
    "stouffer_meta": _oracle_stouffer(),
    "fem_rem": _oracle_fem_rem(),
    "p_improvement": _oracle_p_improvement(),
    **ORACLES_LLM,
}

ORACLES.update(ORACLES_STATS)
ORACLES.update(ORACLES_NORM)


def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 scale path — the same thresholds as ``quantile_thresholds``
    but via ``approx_percentile`` (mergeable quantile sketch, partial+
    final agg, no global sort): at 100 TB the exact percentile's
    full-column materialization gives way to the sketch, whose error is
    bounded by the accuracy parameter (1e4 -> <=0.01% rank error).
    Sketch internals are engine-specific, so this is a rows-only
    contract entry; the unit test bounds it against the exact values.
    """
    orders = _t(spark, sf_dir, "orders")
    qs = [0.1, 0.25, 0.5, 0.75, 0.9]
    agg = orders.agg(
        F.expr(
            "approx_percentile(o_totalprice, array(0.1D, 0.25D, 0.5D, 0.75D, 0.9D), 10000)"
        ).alias("_p")
    )
    return agg.select(F.posexplode("_p").alias("pos", "threshold"))


QUERIES["quantile_sketch"] = q_quantile_sketch


def q_rollup_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals in one pass: lineitem quantities and
    decimal-exact revenue by (returnflag, linestatus), per-flag
    subtotals, and the grand total via ROLLUP, with GROUPING ids
    disambiguating real NULLs from subtotal rows.  Multi-level
    aggregation the reference computes with repeated scans; one
    expand+aggregate here."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("int").alias("g_flag"),
        F.grouping("l_linestatus").cast("int").alias("g_status"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue"),
    )


ORACLE_ROLLUP = """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
       CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""

QUERIES["rollup_summary"] = q_rollup_summary
ORACLES["rollup_summary"] = ORACLE_ROLLUP


def q_pivot_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2's long->wide pivot as a gated query: per-supplier revenue
    pivoted by return flag with an explicit value list (no collect to
    discover columns — SURVEY §4.3), decimal-exact sums, zero-filled
    like the reference's count-matrix pivot
    (`GenExpressionComb_RNAseq.pl:232-238`)."""
    li = _t(spark, sf_dir, "lineitem")
    rev = F.sum(dec(F.col("l_extendedprice")))
    return (
        li.groupBy("l_suppkey")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(rev)
        .select(
            "l_suppkey",
            *[
                F.coalesce(F.col(c).cast("double"), F.lit(0.0)).alias(f"rev_{c.lower()}")
                for c in ("A", "N", "R")
            ],
        )
    )


ORACLE_PIVOT = """
SELECT l_suppkey,
       CAST(COALESCE(SUM(CASE WHEN l_returnflag = 'A'
         THEN CAST(l_extendedprice AS DECIMAL(18,2)) END), 0) AS DOUBLE) AS rev_a,
       CAST(COALESCE(SUM(CASE WHEN l_returnflag = 'N'
         THEN CAST(l_extendedprice AS DECIMAL(18,2)) END), 0) AS DOUBLE) AS rev_n,
       CAST(COALESCE(SUM(CASE WHEN l_returnflag = 'R'
         THEN CAST(l_extendedprice AS DECIMAL(18,2)) END), 0) AS DOUBLE) AS rev_r
FROM lineitem GROUP BY l_suppkey
"""

QUERIES["pivot_matrix"] = q_pivot_matrix
ORACLES["pivot_matrix"] = ORACLE_PIVOT


def q_melt_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1's wide->long melt as a gated query: unpivot part's numeric
    measure columns into (id, measure, value) rows — the `stack`
    transform that turns the reference's gene x sample matrices into
    the engine's canonical long relation (no shuffle: melt is a
    per-row generator)."""
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.expr(
            "stack(2, 'size', CAST(p_size AS DOUBLE), "
            "'retailprice', CAST(p_retailprice AS DOUBLE)) AS (measure, value)"
        ),
    )


ORACLE_MELT = """
SELECT p_partkey, 'size' AS measure, CAST(p_size AS DOUBLE) AS value FROM part
UNION ALL
SELECT p_partkey, 'retailprice', CAST(p_retailprice AS DOUBLE) FROM part
"""

QUERIES["melt_measures"] = q_melt_measures
ORACLES["melt_measures"] = ORACLE_MELT


def q_registry_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 — idempotent registry upsert (append-iff-absent,
    `GenExpression_RNAseq.pl:104-131`): an incoming batch (upper-cased
    names mark it) lands only where the existing registry has no row
    for the key; existing rows win."""
    from transcriptomics_data_integration_spark.sources.registry import registry_upsert

    sup = _t(spark, sf_dir, "supplier")
    existing = sup.where(F.col("s_suppkey") % 3 == 0).select(
        "s_suppkey", F.col("s_name").alias("name")
    )
    incoming = sup.where(F.col("s_suppkey") % 2 == 0).select(
        "s_suppkey", F.upper(F.col("s_name")).alias("name")
    )
    return registry_upsert(existing, incoming, "s_suppkey")


ORACLE_REGISTRY_UPSERT = """
SELECT s_suppkey, s_name AS name FROM supplier WHERE s_suppkey % 3 = 0
UNION ALL
SELECT s_suppkey, upper(s_name) FROM supplier
WHERE s_suppkey % 2 = 0
  AND s_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_suppkey % 3 = 0)
"""

QUERIES["registry_upsert"] = q_registry_upsert
ORACLES["registry_upsert"] = ORACLE_REGISTRY_UPSERT


def q_full_outer_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2's NULL-padding merge in its full-outer form: two overlapping
    per-gene aggregate slices (platform O vs F means) merged so genes
    unique to either side survive with NULLs on the other — completing
    the join-type matrix (inner/left/semi/anti/interval/asof elsewhere).
    """
    li = _t(spark, sf_dir, "lineitem")
    base = li.groupBy("l_partkey", "l_linestatus").agg(
        dsum(F.col("l_extendedprice")).alias("s"), F.count(F.lit(1)).alias("n")
    )
    o = base.where(F.col("l_linestatus") == "O").select(
        "l_partkey", (F.col("s") / F.col("n")).alias("mean_o")
    )
    f = base.where(F.col("l_linestatus") == "F").select(
        "l_partkey", (F.col("s") / F.col("n")).alias("mean_f")
    )
    return o.join(f, "l_partkey", "full_outer").select(
        "l_partkey", "mean_o", "mean_f",
        (F.col("mean_o").isNotNull() & F.col("mean_f").isNotNull()).alias("on_both"),
    )


ORACLE_FULL_OUTER = f"""
WITH base AS (
  SELECT l_partkey, l_linestatus,
         {dsum_sql('l_extendedprice')} AS s, COUNT(*) AS n
  FROM lineitem GROUP BY l_partkey, l_linestatus
), o AS (
  SELECT l_partkey, s / n AS mean_o FROM base WHERE l_linestatus = 'O'
), f AS (
  SELECT l_partkey, s / n AS mean_f FROM base WHERE l_linestatus = 'F'
)
SELECT COALESCE(o.l_partkey, f.l_partkey) AS l_partkey, mean_o, mean_f,
       mean_o IS NOT NULL AND mean_f IS NOT NULL AS on_both
FROM o FULL OUTER JOIN f ON o.l_partkey = f.l_partkey
"""

QUERIES["full_outer_merge"] = q_full_outer_merge
ORACLES["full_outer_merge"] = ORACLE_FULL_OUTER


def q_htseq_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 — the htseq count-file contract gated over driver tables:
    per-sample long counts carry htseq's ``__no_feature`` /
    ``__ambiguous`` summary rows, which the scan must DROP
    (`GenExpressionComb_RNAseq.pl:191`), then the long relation
    densifies to the fill-0 gene x sample matrix (`:232-238`).
    The raw long side models one htseq file per o_orderpriority
    "sample"; genes are custkey buckets.  The file-glob scan itself
    (input_file_name -> sample id) is exercised on real temp files in
    ``tests/test_sources_streaming.py``; this query gates the
    post-scan semantics the reference script applies.
    """
    from transcriptomics_data_integration_spark.sources.htseq import (
        counts_to_matrix,
        drop_summary_rows,
    )

    orders = _t(spark, sf_dir, "orders")
    counts = orders.groupBy(
        F.concat(F.lit("g"), (F.col("o_custkey") % 50).cast("string")).alias("gene_id"),
        F.col("o_orderpriority").alias("sample_id"),
    ).agg(F.count(F.lit(1)).alias("read_count"))
    summaries = orders.groupBy(F.col("o_orderpriority").alias("sample_id")).agg(
        F.count(F.lit(1)).alias("read_count")
    ).select(F.lit("__no_feature").alias("gene_id"), "sample_id", "read_count")
    raw = counts.unionByName(summaries)
    return counts_to_matrix(drop_summary_rows(raw))


ORACLE_HTSEQ = """
WITH raw AS (
  SELECT 'g' || CAST(o_custkey % 50 AS VARCHAR) AS gene_id,
         o_orderpriority AS sample_id, COUNT(*) AS read_count
  FROM orders GROUP BY 1, 2
  UNION ALL
  SELECT '__no_feature', o_orderpriority, COUNT(*)
  FROM orders GROUP BY 2
), clean AS (
  SELECT * FROM raw WHERE gene_id NOT LIKE '\\_\\_%' ESCAPE '\\'
), dense AS (
  SELECT g.gene_id, s.sample_id
  FROM (SELECT DISTINCT gene_id FROM clean) g
  CROSS JOIN (SELECT DISTINCT sample_id FROM clean) s
)
SELECT d.gene_id, d.sample_id, COALESCE(c.read_count, 0) AS read_count
FROM dense d LEFT JOIN clean c
  ON d.gene_id = c.gene_id AND d.sample_id = c.sample_id
"""

QUERIES["htseq_scan"] = q_htseq_scan
ORACLES["htseq_scan"] = ORACLE_HTSEQ


def q_rsem_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 — RSEM ``.results`` conversion contract
    (`Convert_RSEMprocessed.pl:68-124`): symbol -> Ensembl-id remap via
    the gene-info dim with unmapped symbols DROPPED (`:117-121`) and
    fractional expected counts rounded to integer reads.  RSEM rows
    model from lineitem (symbols = partkey mod 100, expected counts
    get a .25 fraction so Spark/DuckDB rounding agree); the mapping dim
    models from part and only covers symbols mod 80, so s80..s99 fall
    out — the drop-unmapped semantics under test.  Symbols with
    several ids keep the lexicographic min (the deterministic
    tightening documented in ``sources/rsem.py``).
    """
    from transcriptomics_data_integration_spark.sources.rsem import convert_rsem

    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    rsem = li.groupBy(
        F.concat(F.lit("s"), (F.col("l_partkey") % 100).cast("string")).alias("gene_symbol"),
        F.col("l_linestatus").alias("sample_id"),
    ).agg((F.sum("l_quantity") + 0.25).alias("expected_count"))
    gene_info = part.select(
        F.concat(F.lit("s"), (F.col("p_partkey") % 80).cast("string")).alias("gene_symbol"),
        F.concat(F.lit("ENSG"), F.col("p_partkey").cast("string")).alias("ensembl_id"),
    )
    return convert_rsem(rsem, gene_info)


ORACLE_RSEM = """
WITH rsem AS (
  SELECT 's' || CAST(l_partkey % 100 AS VARCHAR) AS gene_symbol,
         l_linestatus AS sample_id,
         SUM(l_quantity) + 0.25 AS expected_count
  FROM lineitem GROUP BY 1, 2
), mapping AS (
  SELECT 's' || CAST(p_partkey % 80 AS VARCHAR) AS gene_symbol,
         MIN('ENSG' || CAST(p_partkey AS VARCHAR)) AS gene_id
  FROM part GROUP BY 1
)
SELECT m.gene_id, r.sample_id,
       CAST(FLOOR(r.expected_count + 0.5) AS BIGINT) AS read_count
FROM rsem r JOIN mapping m ON r.gene_symbol = m.gene_symbol
"""

QUERIES["rsem_convert"] = q_rsem_convert
ORACLES["rsem_convert"] = ORACLE_RSEM


def q_cel_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 — REAL Affymetrix CEL v4 binary scan, HASH-GATED
    (`sources/cel.py:cel_long`; reference load:
    `QC_Affy_U133A2.R:107-111` ``ReadAffy``).  Mirrors the
    ``media_header_decode`` pattern: well-formed CEL v4 payloads are
    synthesized IN-PLAN per doc — the constant header via the struct
    layout, the per-cell float32 intensities packed by SQL bit algebra
    (exponent from the bit length, mantissa by shift — exact for
    integers < 2^24) — and the pure-Python parser must recover the
    planted 2x2 grid from the bytes alone.  The oracle never parses:
    it recomputes the planted ground truth from doc_id, so a hash
    match proves the binary layer (little-endian header walk,
    length-prefixed string skip, 10-byte cell stride, row-major cell
    indexing) is right.  Payload synthesis and the mapInPandas decode
    are both map-side: zero shuffles."""
    import struct as _struct

    from transcriptomics_data_integration_spark.sources.cel import cel_long

    hdr, alg, prm = b"synthetic CEL", b"Percentile", b""
    head = (
        _struct.pack("<5i", 64, 4, 2, 2, 4)
        + _struct.pack("<i", len(hdr)) + hdr
        + _struct.pack("<i", len(alg)) + alg
        + _struct.pack("<i", len(prm)) + prm
        + _struct.pack("<iIIi", 2, 0, 0, 0)
    )

    def byte(e):
        return f"unhex(lpad(hex(({e}) % 256), 2, '0'))"

    def le4(e):
        return (
            f"concat({byte(e)}, {byte(f'({e}) DIV 256')}, "
            f"{byte(f'({e}) DIV 65536')}, {byte(f'({e}) DIV 16777216')})"
        )

    def f32le(v):
        # IEEE-754 binary32 of a positive integer v < 2^24, exactly:
        # e = bit_length - 1, mantissa = (v << (23 - e)) - 2^23
        e = f"(length(conv({v}, 10, 2)) - 1)"
        bits = f"(shiftleft(127 + {e}, 23) + shiftleft({v}, 23 - {e}) - 8388608)"
        return le4(bits)

    def le2(e):
        return f"concat({byte(e)}, {byte(f'({e}) DIV 256')})"

    cells = ", ".join(
        f"{f32le(f'(doc_id * 7 + {31 * i}) % 65521 + 1')}, "
        f"{f32le(f'(doc_id * 3 + {i}) % 251 + 1')}, "
        f"{le2(str(i + 9))}"
        for i in range(4)
    )
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    media = docs.select(
        F.col("doc_id").alias("sample_id"),
        F.expr(f"concat(X'{head.hex()}', {cells})").alias("payload"),
    )
    return cel_long(media).select(
        "sample_id", "ncols", "nrows", "cell_x", "cell_y",
        "intensity", "stdev", "npixels",
    )


ORACLE_CEL_DECODE = """
WITH idx AS (
  SELECT doc_id, unnest(generate_series(0, 3)) AS i FROM documents
)
SELECT doc_id AS sample_id,
       CAST(2 AS INTEGER) AS ncols, CAST(2 AS INTEGER) AS nrows,
       CAST(i % 2 AS INTEGER) AS cell_x, CAST(i // 2 AS INTEGER) AS cell_y,
       CAST((doc_id * 7 + 31 * i) % 65521 + 1 AS DOUBLE) AS intensity,
       CAST((doc_id * 3 + i) % 251 + 1 AS DOUBLE) AS stdev,
       CAST(i + 9 AS INTEGER) AS npixels
FROM idx
"""

QUERIES["cel_decode"] = q_cel_decode
ORACLES["cel_decode"] = ORACLE_CEL_DECODE


def q_idat_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 Illumina IDAT v3 binary scan, HASH-GATED with planted ground
    truth — the `cel_decode` scheme applied to the Illumina layer
    (`sources/idat.py`): a REAL IDAT v3 payload (magic, int64 version,
    field table with byte offsets, nSNPsRead, and the 102/103/104/107
    intensity blocks) is synthesized IN-PLAN per doc — the constant
    header/field-table via the struct layout, the per-probe int arrays
    packed by SQL byte algebra — and the pure-Python parser must
    recover the planted 4-probe arrays from the bytes alone.  The
    oracle never parses: it recomputes the ground truth from doc_id,
    so a hash match proves the binary layer (field-table walk, offset
    dereference, int32/uint16/uint8 little-endian blocks) is right.
    Payload synthesis and the mapInPandas decode are both map-side:
    zero shuffles."""
    import struct as _struct

    from transcriptomics_data_integration_spark.sources.idat import idat_long

    # fixed layout: header 16 B + 5x10 B field table = 66; then
    # n(int32)@66, 102@70 (4xi4), 103@86 (4xu2), 104@94 (4xu2),
    # 107@102 (4xu1)
    head = (
        b"IDAT"
        + _struct.pack("<q", 3)
        + _struct.pack("<i", 5)
        + _struct.pack("<HQ", 1000, 66)
        + _struct.pack("<HQ", 102, 70)
        + _struct.pack("<HQ", 103, 86)
        + _struct.pack("<HQ", 104, 94)
        + _struct.pack("<HQ", 107, 102)
        + _struct.pack("<i", 4)
    )

    def byte(e):
        return f"unhex(lpad(hex(({e}) % 256), 2, '0'))"

    def le4(e):
        return (
            f"concat({byte(e)}, {byte(f'({e}) DIV 256')}, "
            f"{byte(f'({e}) DIV 65536')}, {byte(f'({e}) DIV 16777216')})"
        )

    def le2(e):
        return f"concat({byte(e)}, {byte(f'({e}) DIV 256')})"

    ids = ", ".join(
        le4(f"(doc_id * 13 + {101 * i}) % 9999991 + 1") for i in range(4)
    )
    sds = ", ".join(le2(f"(doc_id * 3 + {7 * i}) % 65536") for i in range(4))
    means = ", ".join(le2(f"(doc_id * 5 + {11 * i}) % 65536") for i in range(4))
    beads = ", ".join(byte(f"(doc_id + {i}) % 256") for i in range(4))
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    media = docs.select(
        F.col("doc_id").alias("sample_id"),
        F.expr(
            f"concat(X'{head.hex()}', {ids}, {sds}, {means}, {beads})"
        ).alias("payload"),
    )
    return idat_long(media).select(
        "sample_id", "n_probes", "illumina_id", "mean", "sd", "n_beads"
    )


ORACLE_IDAT_DECODE = """
WITH idx AS (
  SELECT doc_id, unnest(generate_series(0, 3)) AS i FROM documents
)
SELECT doc_id AS sample_id, CAST(4 AS INTEGER) AS n_probes,
       CAST((doc_id * 13 + 101 * i) % 9999991 + 1 AS INTEGER) AS illumina_id,
       CAST((doc_id * 5 + 11 * i) % 65536 AS INTEGER) AS mean,
       CAST((doc_id * 3 + 7 * i) % 65536 AS INTEGER) AS sd,
       CAST((doc_id + i) % 256 AS INTEGER) AS n_beads
FROM idx
"""

QUERIES["idat_decode"] = q_idat_decode
ORACLES["idat_decode"] = ORACLE_IDAT_DECODE


def q_detection_p(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4→F12 detection-p seam, HASH-GATED end-to-end (r5 verdict item
    5): 24-probe IDAT v3 payloads are synthesized in-plan per doc
    (planted intensity formulas), decoded by the REAL binary parser
    (`sources/idat.py:idat_long`), negative-control beads designated
    by a deterministic manifest predicate (illumina_id % 4 == 0 —
    modeling the control-manifest join), and detection p-values
    computed from each sample's control ECDF
    (`sources/idat.py:detection_pvalues`, the
    ``lumiR(detectionTh=0.01)`` semantics:
    `GenExpressionComb_Illum_HT_12_V3.R:148`).  The oracle recomputes
    the planted arrays from doc_id and replays the ECDF as the same
    cumulative RANGE window, so a hash match proves binary layer +
    control ECDF + threshold together."""
    import struct as _struct

    from transcriptomics_data_integration_spark.sources.idat import (
        detection_pvalues,
        idat_long,
    )

    n_probes = 24
    # layout: header 16 + 5x10 field table = 66; n(i4)@66; 102@70
    # (24xi4); 103@166 (24xu2); 104@214 (24xu2); 107@262 (24xu1)
    head = (
        b"IDAT"
        + _struct.pack("<q", 3)
        + _struct.pack("<i", 5)
        + _struct.pack("<HQ", 1000, 66)
        + _struct.pack("<HQ", 102, 70)
        + _struct.pack("<HQ", 103, 166)
        + _struct.pack("<HQ", 104, 214)
        + _struct.pack("<HQ", 107, 262)
        + _struct.pack("<i", n_probes)
    )

    def byte(e):
        return f"unhex(lpad(hex(({e}) % 256), 2, '0'))"

    def le4(e):
        return (
            f"concat({byte(e)}, {byte(f'({e}) DIV 256')}, "
            f"{byte(f'({e}) DIV 65536')}, {byte(f'({e}) DIV 16777216')})"
        )

    def le2(e):
        return f"concat({byte(e)}, {byte(f'({e}) DIV 256')})"

    rng = range(n_probes)
    ids = ", ".join(le4(f"(doc_id * 13 + {101 * i}) % 9999991 + 1") for i in rng)
    sds = ", ".join(le2(f"(doc_id * 3 + {7 * i}) % 65536") for i in rng)
    means = ", ".join(le2(f"(doc_id * 5 + {11 * i}) % 65536") for i in rng)
    beads = ", ".join(byte(f"(doc_id + {i}) % 256") for i in rng)
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    media = docs.select(
        F.col("doc_id").alias("sample_id"),
        F.expr(
            f"concat(X'{head.hex()}', {ids}, {sds}, {means}, {beads})"
        ).alias("payload"),
    )
    long_df = idat_long(media).withColumn(
        "is_control", F.col("illumina_id") % 4 == 0
    )
    return detection_pvalues(long_df, th=0.01).select(
        "sample_id", "illumina_id", "is_control", "mean",
        "n_neg", "det_p", "detected",
    )


ORACLE_DETECTION_P = """
WITH idx AS (
  SELECT doc_id, unnest(generate_series(0, 23)) AS i FROM documents
), long_rel AS (
  SELECT doc_id AS sample_id,
         CAST((doc_id * 13 + 101 * i) % 9999991 + 1 AS INTEGER) AS illumina_id,
         CAST((doc_id * 5 + 11 * i) % 65536 AS INTEGER) AS mean
  FROM idx
), flagged AS (
  SELECT *, illumina_id % 4 = 0 AS is_control FROM long_rel
), windowed AS (
  SELECT sample_id, illumina_id, is_control, mean,
         CAST(SUM(CASE WHEN is_control THEN 1 ELSE 0 END) OVER (
           PARTITION BY sample_id ORDER BY mean DESC
           RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS ge_ctrl,
         CAST(SUM(CASE WHEN is_control THEN 1 ELSE 0 END) OVER (
           PARTITION BY sample_id
         ) AS BIGINT) AS n_neg
  FROM flagged
)
SELECT sample_id, illumina_id, is_control, mean, n_neg,
       CASE WHEN n_neg > 0 THEN ge_ctrl / n_neg END AS det_p,
       COALESCE(CASE WHEN n_neg > 0 THEN ge_ctrl / n_neg END <= 0.01,
                FALSE) AS detected
FROM windowed
"""

QUERIES["detection_p"] = q_detection_p
ORACLES["detection_p"] = ORACLE_DETECTION_P


def q_jsonl_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL-source parse/validate contract, HASH-GATED — the engine's
    training-corpus ingest semantics (`sources/jsonl.py`): both engines
    parse identically-CONCAT-constructed JSON lines (documents table),
    with every 23rd line truncated (parse error) and every 29th missing
    its id (validation reject).  Gates: corrupt-line detection, the
    reject-reason split, and the typed field extraction the clean path
    relies on.  The real file scan (PERMISSIVE + corrupt-record column,
    schema-projected) runs on temp files in
    `tests/test_sources_streaming.py::test_read_jsonl_docs_*`."""
    docs = _t(spark, sf_dir, "documents")
    line = (
        F.when(
            F.col("doc_id") % 23 == 0,
            # truncated line: parse error
            F.concat(
                F.lit('{"id": '), F.col("doc_id"), F.lit(', "lang": "'),
                F.col("lang"), F.lit('", "nchars": '), F.col("n_chars"),
            ),
        )
        .when(
            F.col("doc_id") % 29 == 0,
            # valid JSON, required id missing
            F.concat(
                F.lit('{"lang": "'), F.col("lang"), F.lit('", "nchars": '),
                F.col("n_chars"), F.lit("}"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit('{"id": '), F.col("doc_id"), F.lit(', "lang": "'),
                F.col("lang"), F.lit('", "nchars": '), F.col("n_chars"),
                F.lit("}"),
            )
        )
    )
    # from_json PERMISSIVE yields an all-null struct (not a null
    # struct) for malformed input — detect parse failure through the
    # corrupt-record column, exactly like the file scan does
    parsed = docs.select(
        F.from_json(
            line,
            "id LONG, lang STRING, nchars LONG, _corrupt_record STRING",
            {"columnNameOfCorruptRecord": "_corrupt_record"},
        ).alias("j")
    )
    status = (
        F.when(F.col("j._corrupt_record").isNotNull(), F.lit("parse_error"))
        .when(F.col("j.id").isNull(), F.lit("missing_id"))
        .otherwise(F.lit("ok"))
    )
    return (
        parsed.select(
            status.alias("status"),
            F.coalesce(F.col("j.lang"), F.lit("?")).alias("lang"),
            F.col("j.nchars").alias("nchars"),
        )
        .groupBy("status", "lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("nchars").alias("sum_nchars"),
        )
    )


ORACLE_JSONL_PARSE = """
WITH lines AS (
  SELECT CASE
    WHEN doc_id % 23 = 0 THEN
      '{"id": ' || doc_id || ', "lang": "' || lang || '", "nchars": ' || n_chars
    WHEN doc_id % 29 = 0 THEN
      '{"lang": "' || lang || '", "nchars": ' || n_chars || '}'
    ELSE
      '{"id": ' || doc_id || ', "lang": "' || lang || '", "nchars": ' || n_chars || '}'
  END AS line
  FROM documents
), parsed AS (
  SELECT CASE WHEN json_valid(line) THEN line END AS j FROM lines
), typed AS (
  SELECT
    CASE WHEN j IS NULL THEN 'parse_error'
         WHEN json_extract(j, '$.id') IS NULL THEN 'missing_id'
         ELSE 'ok' END AS status,
    COALESCE(j ->> '$.lang', '?') AS lang,
    CAST(j ->> '$.nchars' AS BIGINT) AS nchars
  FROM parsed
)
SELECT status, lang, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(nchars) AS BIGINT) AS sum_nchars
FROM typed GROUP BY 1, 2
"""

QUERIES["jsonl_parse"] = q_jsonl_parse
ORACLES["jsonl_parse"] = ORACLE_JSONL_PARSE


# ---------------------------------------------------------------------------
# Driver-window ordering
# ---------------------------------------------------------------------------
# The correctness driver gates the FIRST 50 entries of ``QUERIES`` in
# iteration order; ``_reorder_front`` moves the current window's
# queries there.


def _reorder_front(registry: dict, front: list[str]) -> dict:
    missing = [n for n in front if n not in registry]
    assert not missing, f"front-window names not in registry: {missing}"
    ordered = {n: registry[n] for n in front}
    ordered.update({n: fn for n, fn in registry.items() if n not in ordered})
    return ordered


def _with_persist_drain(fn: QueryFn) -> QueryFn:
    """Drain the previous query's registered persists when the NEXT
    query is constructed (r3 ADVICE: kernels persist bounded relations
    their lazy return value consumes, so they cannot unpersist before
    returning; across a 124-query session the blocks accumulate).  By
    construction time of query N+1 every harness has already collected
    query N, so eviction never costs a recompute."""
    import functools

    from transcriptomics_data_integration_spark.runtime import cleanup_persisted

    @functools.wraps(fn)
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        cleanup_persisted()
        return fn(spark, sf_dir)

    return wrapped


# Round-11 rotation window: (a) the six r6-only-stamped gates that
# slipped the r10 window, (b) r11-new gates (blocked_de = duplicateCorrelation
# CONSUMED by the GLS DE fit; video_offset_neardup = the
# offset-tolerant video tier) and r11-TOUCHED kernels that must
# re-stamp under the reworked plans (incremental_dedup's broadcast
# prefilter levers; the steps_per_cycle closure under dedup_clusters /
# corpus_pipeline / leakage_split / dedup_keep_best; wordpiece_merges
# under the trainer rework), (c) the r7-only-stamped backlog in
# registry order, topped to ~50 with the oldest r8 rows.  Zero
# rows-only slots.  (Compare r11 bench rows against the r10 driver
# column through the host band recorded in BASELINE.md.)
_ROUND11_FRONT = [
    # -- (a) r6-stamped slipped six ----------------------------------
    "registry_upsert", "full_outer_merge", "htseq_scan",
    "rsem_convert", "idat_decode", "detection_p",
    # -- (b) r11-new + r11-touched -----------------------------------
    "blocked_de", "video_offset_neardup", "incremental_dedup",
    "dedup_clusters", "corpus_pipeline", "leakage_split",
    "dedup_keep_best", "wordpiece_merges",
    # -- (c) the r7-only-stamped backlog (registry order) ------------
    "simhash", "ngram_jaccard", "edit_pairs", "dedup_exact",
    "cosine_topk", "bh_histogram", "asof_directions", "meta_pipeline",
    "icc_meta", "icc_sampled", "p_improvement", "combat_eb2",
    "pca_covariance", "mds_bmatrix", "kmeans_lloyd2", "bpe_merges",
    "token_stats", "doc_fingerprint", "language_id", "text_quality",
    "token_budget_sample", "doc_logprob", "bloom_contamination",
    "lsh_ann", "line_dedup", "winnow_overlap", "html_extract",
    "url_canonical", "jpeg_pixels", "gif_pixels", "wav_decode",
    # -- top-up: oldest r8 rows in registry order --------------------
    "pricing_summary", "gene_stats", "gene_exclusion",
    "outlier_removal", "zero_variance_filter", "nonspecific_filter",
]
QUERIES = _reorder_front(QUERIES, _ROUND11_FRONT)
QUERIES = {n: _with_persist_drain(fn) for n, fn in QUERIES.items()}
