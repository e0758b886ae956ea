"""Window / ranking operators (SURVEY.md section 2.6, W1-W7)."""

from __future__ import annotations

import warnings

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from transcriptomics_data_integration_spark.runtime import register_persisted


def top_k_by(df: DataFrame, order_col: str, k: int, tiebreak_col: str, desc: bool = True) -> DataFrame:
    """W1/W4 — global top-k rows by ``order_col`` with deterministic
    tie-break.

    Reference: ``order(...)[1:k]`` (`DiffExpression_closedPlatform.R:448-450`),
    top-500 GO terms (`Meta_analysis.R:1374`).

    Scale: a global row_number over an unpartitioned window funnels all
    rows through one task — fine for the post-aggregate relations it is
    used on here (one row per gene/term).  For raw-fact top-k use
    ``df.orderBy(...).limit(k)`` which Spark executes as per-partition
    top-k + merge (TakeOrderedAndProject).
    """
    oc = F.col(order_col).desc() if desc else F.col(order_col).asc()
    w = Window.orderBy(oc, F.col(tiebreak_col))
    return df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") <= k).drop("_rn")


# A global-order window funnels its whole input through one task, but
# below this size that single task beats the bucketed two-pass shape's
# extra stages (measured r3: pack_sequences 0.18 s global vs 0.45 s
# bucketed at sf0.1 local[32]).  64 MB is comfortably one-task work and
# two orders of magnitude under executor memory.
_SINGLE_TASK_BYTES = 64 << 20


def estimated_plan_bytes(df: DataFrame) -> int | None:
    """Catalyst's size-in-bytes estimate for ``df`` (driver-side plan
    statistics; runs no job).  ``None`` when the estimate is
    unavailable — callers must treat that as \"not small\" and take
    their scale-safe arm.  An unknown estimate (Catalyst's >= 2^60
    sentinels, e.g. any RDD-backed relation) is routine and silent; a
    failure to read the estimate at all warns, so a broken estimate is
    visible instead of silently moving every caller onto its scale arm."""
    try:
        # OPTIMIZED plan: the analyzed-plan estimate pre-dates column
        # pruning, so post-aggregate relations derived from wide fact
        # scans inflate (a ~200k-row t-table carried the full lineitem
        # width and got routed to the 6-stage bucketed shape — r3
        # verdict).  The size-only visitor scales Project/Aggregate by
        # row-width ratio, so pruning must have fired for the estimate
        # to reflect the narrow relation.  ~10 ms extra driver cost.
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        raw = stats.sizeInBytes()  # py4j yields int for small BigInts
        size = int(raw) if isinstance(raw, int) else int(raw.toString())
        # Long.MaxValue et al. mean "unknown", not "huge known"
        return size if 0 <= size < (1 << 60) else None
    except (AttributeError, TypeError, ValueError, Py4JError) as exc:
        warnings.warn(
            f"no Catalyst size estimate ({type(exc).__name__}: {exc}); "
            "taking the scale-safe arm",
            RuntimeWarning,
            stacklevel=2,
        )
        return None


def fits_single_task(df: DataFrame, threshold_bytes: int = _SINGLE_TASK_BYTES) -> bool:
    """True when Catalyst estimates ``df`` small enough that a global
    single-task window is cheaper than the bucketed two-pass prefix
    shape (stage-scheduling overhead dominates below the threshold).
    Conservative: an unknown estimate returns False, keeping the
    scale-safe path.  Both shapes are bit-identical by construction,
    so this is purely a physical-plan choice — the same adaptive idea
    as AQE's broadcast-join demotion, applied to window strategy."""
    size = estimated_plan_bytes(df)
    return size is not None and size <= threshold_bytes


def fits_single_task_measured(df: DataFrame) -> tuple[DataFrame, bool]:
    """``fits_single_task`` on the input's measured size when Catalyst
    cannot prove it small.  Returns the DataFrame to build on and the
    decision.  A provably small ``df`` comes back as is and no job
    runs.  Otherwise ``df`` is persisted (and registered for cleanup),
    materialized by one ``count()`` job, and the decision is re-read
    from a new DataFrame over the cached plan, whose estimate is now
    the cached relation's exact in-memory size.  The new DataFrame
    matters: ``df``'s own query execution keeps the optimized plan of
    its first estimate.  The size-only visitor multiplies the sizes of
    a join's children, so an 800-row table with four joins in its
    lineage is estimated at ~259 MB; measured, it is ~46 KB."""
    if fits_single_task(df):
        return df, True
    register_persisted(df.persist())
    df.count()
    cached = df.select("*")
    return cached, fits_single_task(cached)


def monotone_range_buckets(
    df: DataFrame, order_col: str, n_buckets: int = 1024, bucket_col: str = "_bkt"
) -> DataFrame:
    """Attach an equi-width bucket id that is MONOTONE in a numeric
    ``order_col``: every row in bucket k sorts before every row in
    bucket k+1, and equal order values share a bucket.  This is the
    primitive that turns a global-order window (all rows -> ONE task)
    into a partitioned two-pass shape: per-bucket aggregates form a
    <= ``n_buckets``-row relation whose prefix combine is broadcast
    back, and the only large windows are ``partitionBy(bucket)``.

    The bounds come from an in-plan 1-row aggregate joined via
    broadcast (no driver collect, no re-scan: the join input is the
    same cached scan).  Deterministic by construction — unlike
    ``repartitionByRange`` + ``spark_partition_id()``, which depends on
    sampled range bounds and exchange reuse.  Under heavily clustered
    keys buckets skew; AQE skew-split covers the imbalance, and the
    algebra stays exact regardless of skew.

    Same pattern as ``stats.bh._adjust_histogram`` (p in [0,1] lets
    that one skip the bounds pass).
    """
    bounds = df.agg(
        F.min(order_col).alias("_mn"), F.max(order_col).alias("_mx")
    )
    width = F.greatest(
        (F.col("_mx") - F.col("_mn")) / n_buckets, F.lit(1e-12)
    )
    return (
        df.join(F.broadcast(bounds))
        .withColumn(
            bucket_col,
            F.least(
                F.floor((F.col(order_col) - F.col("_mn")) / width).cast("int"),
                F.lit(n_buckets - 1),
            ),
        )
        .drop("_mn", "_mx")
    )
