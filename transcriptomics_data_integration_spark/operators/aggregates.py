"""Aggregation operators (SURVEY.md section 2.4, A1-A11).

All pure built-in aggregates: Spark executes them as partial (map-side)
+ final hash aggregation, so the shuffle carries one row per group per
partition, not raw data — the property that makes these linear-scan
operators safe at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from transcriptomics_data_integration_spark.operators.windows import Scan, ordered_scan


def group_stats(df: DataFrame, key: str, value_col: str) -> DataFrame:
    """A1/A2 — per-gene mean / sd / count over samples.

    Reference: row sd `MultiGene2ProbeFilter.R:31`,
    `DiffExpression_closedPlatform.R:448`; row means
    `MultiGene2ProbeAvg.R:57-60`.  R ``sd`` is the n-1 sample sd —
    Spark ``stddev`` == ``stddev_samp`` matches (SURVEY.md section 7
    watch list).
    """
    return df.groupBy(key).agg(
        F.avg(value_col).alias("mean_value"),
        F.stddev(value_col).alias("sd_value"),
        F.count(value_col).alias("n_obs"),
    )


def library_size(df: DataFrame, sample_col: str, count_col: str) -> DataFrame:
    """A3 — per-sample total counts (colSums).

    Reference: `GenExpressionComb_RNAseq.R:144`,
    `DiffExpression_openPlatform.R:429`.
    """
    return df.groupBy(sample_col).agg(F.sum(count_col).alias("lib_size"))


def argmax_dedup(
    df: DataFrame, group_col: str, rank_col: str, tiebreak_col: str
) -> DataFrame:
    """A4/W2 — of the rows in each group keep the one with the maximum
    ``rank_col`` ("one-probe-one-gene" collapse).

    Reference: `scripts/other/MultiGene2ProbeFilter.R:50-64` (argmax at
    `:58-62`; policy `README.md:74`).  Window + row_number: single
    shuffle on the group key; deterministic tie-break.
    """
    w = Window.partitionBy(group_col).orderBy(F.col(rank_col).desc(), F.col(tiebreak_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def frequency_table(df: DataFrame, key: str) -> DataFrame:
    """A8 — histogram of group sizes (e.g. probes-per-probeset).

    Reference: `ProbeFilter.pl:166-216`.
    """
    sizes = df.groupBy(key).agg(F.count(F.lit(1)).alias("group_size"))
    return sizes.groupBy("group_size").agg(F.count(F.lit(1)).alias("n_groups"))


def bitmask_venn(df: DataFrame, element_col: str, set_col: str) -> DataFrame:
    """A9 — Venn / intersection counts over k sets: per element collect
    the distinct sets it belongs to, concatenate sorted as a membership
    key, count elements per membership combination.

    Reference: ``vennCounts`` use `DiffExpression_closedPlatform.R:587-594`;
    generic k-set logic `scripts/other/overLapper.R:32-90` (membership
    matrix `:52-56`).
    """
    membership = df.groupBy(element_col).agg(
        F.array_join(F.array_sort(F.collect_set(set_col)), "|").alias("membership")
    )
    return membership.groupBy("membership").agg(F.count(F.lit(1)).alias("n_elements"))


def set_compare(a: DataFrame, b: DataFrame, key: str) -> DataFrame:
    """A7 — set union / intersection / difference cardinalities of two
    keyed relations, as a single summary row.

    Reference: gene-set union `Meta_analysis.R:1060-1063`, setdiff
    `:620-645,1066`, intersection `:329`.
    """
    ax = a.select(F.col(key).alias("k")).distinct().withColumn("_in_a", F.lit(1))
    bx = b.select(F.col(key).alias("k")).distinct().withColumn("_in_b", F.lit(1))
    full = ax.join(bx, "k", "full")
    return full.agg(
        F.count(F.lit(1)).alias("n_union"),
        F.sum(
            F.when(F.col("_in_a").isNotNull() & F.col("_in_b").isNotNull(), 1).otherwise(0)
        ).alias("n_intersect"),
        F.sum(F.when(F.col("_in_b").isNull(), 1).otherwise(0)).alias("n_only_a"),
        F.sum(F.when(F.col("_in_a").isNull(), 1).otherwise(0)).alias("n_only_b"),
    )


def skyline_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    minimize: bool = True,
) -> DataFrame:
    """2-D skyline (Pareto front): the distinct (x, y) pairs not
    dominated by any other pair (dominated = other point <= in both
    coordinates, < in at least one; minimization by default).

    Not a quadratic dominance join: after deduplicating to distinct
    pairs and sorting by (x, y), a pair is dominated exactly when the
    running minimum of y over its sort-predecessors is <= its own y
    (predecessors have x <= it; ties resolved by distinctness).  The
    skyline-over-aggregates pattern of the Spark SQL skyline
    literature, as a plan shape instead of an operator extension.

    Scale: the predecessor-min is an ``ordered_scan`` over the distinct
    pairs, which are not guaranteed small (its arms:
    ``operators/windows.py``).
    """
    sign = 1 if minimize else -1
    pairs = (
        df.select(
            (F.col(x_col) * sign).alias("_x"), (F.col(y_col) * sign).alias("_y")
        )
        .groupBy("_x", "_y")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    prev = Scan("_prev_min_y", "min", "_y", "exclusive")
    return (
        ordered_scan(pairs, ["_x", "_y"], [prev])
        .where(F.col("_prev_min_y").isNull() | (F.col("_prev_min_y") > F.col("_y")))
        .select(
            (F.col("_x") * sign).alias(x_col),
            (F.col("_y") * sign).alias(y_col),
            "n_rows",
        )
    )
