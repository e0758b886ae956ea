"""Two-sample Kolmogorov-Smirnov test, fully in-plan.

Reference site: KS test between sample-correlation strata
(`scripts/data_integration/Study_effect.R:805`, ks.test of same-group
vs cross-group correlation distributions).

Shape: per-distinct-value counts (one aggregation) -> running ECDF
window over the ordered distinct values (input = distinct values, not
raw rows) -> global max gap.  The asymptotic Kolmogorov p-value is an
8-term alternating exponential series — plain SQL exp/pow arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from transcriptomics_data_integration_spark.operators.windows import Scan, ordered_scan


def ks_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
    g1,
    g2,
) -> DataFrame:
    """One-row result: (n1, n2, d_stat, p_approx) for the two-sample KS
    between ``value_col`` distributions of groups g1 and g2.

    Tie handling matches R's ks.test: the ECDF gap is evaluated AT each
    distinct value after accounting for all tied observations (per-value
    aggregation before the cumulative window).  p is the asymptotic
    Kolmogorov series at lambda = sqrt(n1 n2 / (n1 + n2)) * D — R's
    ks.test asymptotic convention (no Stephens/Numerical-Recipes
    small-sample terms), so p matches R whenever R itself uses the
    asymptotic path (it switches to an exact method only for small
    samples without ties).

    Scale: the running ECDF counts are an ``ordered_scan`` over the
    distinct values (its arms: ``operators/windows.py``).
    """
    tagged = df.where(F.col(group_col).isin([g1, g2])).select(
        F.col(value_col).alias("v"),
        F.when(F.col(group_col) == g1, 1).otherwise(0).alias("is1"),
    )
    per_value = tagged.groupBy("v").agg(
        F.sum("is1").alias("c1"),
        F.sum(1 - F.col("is1")).alias("c2"),
    )
    gaps = ordered_scan(
        per_value, ["v"], [Scan("cum1", "sum", "c1"), Scan("cum2", "sum", "c2")]
    )
    # group sizes via a 1-row broadcast attach (deliberate bounded
    # BNLJ, like the bucketed scan's bounds attach) — not a second
    # full-relation window
    tot = per_value.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    agg = (
        gaps.join(F.broadcast(tot))
        .agg(
            F.max("n1").alias("n1"),
            F.max("n2").alias("n2"),
            F.max(
                F.abs(F.col("cum1") / F.col("n1") - F.col("cum2") / F.col("n2"))
            ).alias("d_stat"),
        )
    )
    n1, n2, d = F.col("n1"), F.col("n2"), F.col("d_stat")
    ne = n1 * n2 / (n1 + n2)
    lam = F.sqrt(ne) * d
    series = None
    for k in range(1, 9):
        term = F.lit(2.0 * (-1.0) ** (k - 1)) * F.exp(F.lit(-2.0 * k * k) * lam * lam)
        series = term if series is None else series + term
    # the alternating series is only convergent-in-practice for
    # non-tiny lambda; below the cutoff the true Q is 1 to machine
    # precision (Numerical Recipes probks convention)
    p = F.when(lam < 0.2, F.lit(1.0)).otherwise(
        F.least(F.greatest(series, F.lit(0.0)), F.lit(1.0))
    )
    return agg.select("n1", "n2", "d_stat", p.alias("p_approx"))
