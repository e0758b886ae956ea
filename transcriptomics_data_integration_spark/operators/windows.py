"""Window / ranking operators (SURVEY.md section 2.6, W1-W7).

``ordered_scan`` is the one kernel for running aggregates over a
global order (optionally per partition key): BH/BY/holm's rank and
cumulative extreme, the KS ECDF, the skyline's predecessor minimum,
sequence packing's token offsets and the md5-priority samplers' ranks
and budgets.

- Aggregates: ``row_number``, ``count``, ``sum`` of an integral column,
  ``min`` and ``max``; over the inclusive frame (``unboundedPreceding
  .. currentRow``), the exclusive one (``.. -1``) or the whole
  partition (``total``).  Only exact aggregates: the bucketed arm
  reassociates every aggregate (bucket totals first, then a prefix over
  buckets), which leaves counts, integer sums, min and max unchanged but
  not a floating-point or decimal sum, so ``sum`` of any other column
  raises ``ValueError``.
- Two arms, equal value for value (a ``row_number`` is Spark's int on
  the window arm and a bigint on the bucketed arm, whose positions may
  pass 2^31).  The single window funnels each partition through one
  task.  The bucketed two-pass splits the order into at most 1024
  monotone buckets of the first order key (every row of bucket k sorts
  before every row of bucket k+1; null keys get a bucket of their own
  at the end the scan puts them): per-bucket totals, an exclusive base
  window over the bucket rows, a broadcast back to the rows, a
  within-bucket window, and a null-skipping combine of the two.
- Choosing an arm: ``fits_single_task(df)`` once; small input takes the
  window.  The bucket id is the caller's when its key has a fixed
  domain (BH's ``p * n``, the md5 samplers' top hash bits), otherwise
  ``monotone_range_buckets`` on a numeric first key; a non-numeric key
  without a bucket always takes the window.  A caller that has already
  decided (``p_adjust`` measures its input) passes ``single_task``.
"""

from __future__ import annotations

import warnings
from functools import reduce
from typing import NamedTuple, Sequence

from py4j.protocol import Py4JError
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType, NumericType

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


class Scan(NamedTuple):
    """One running aggregate of :func:`ordered_scan`: ``fn`` of ``col``
    over ``frame``, written to ``out``; null wherever ``keep`` is false."""

    out: str
    fn: str  # row_number | count | sum | min | max
    col: str | None = None
    frame: str = "inclusive"  # inclusive | exclusive | total
    keep: Column | None = None


_AGG = {"count": F.count, "sum": F.sum, "min": F.min, "max": F.max}
# how per-bucket totals fold into a base: counts and sums add up
_FOLD = {"row_number": F.sum, "count": F.sum, "sum": F.sum, "min": F.min, "max": F.max}


def _check(df: DataFrame, scans: Sequence[Scan]) -> None:
    for s in scans:
        if s.fn not in _FOLD or s.frame not in ("inclusive", "exclusive", "total"):
            raise ValueError(f"unsupported scan {s.fn!r} over {s.frame!r}")
        if s.fn == "row_number" and s.frame == "total":
            raise ValueError("row_number has no total; count the rows instead")
        if s.fn == "sum" and not isinstance(df.schema[s.col].dataType, IntegralType):
            raise ValueError(
                f"ordered_scan sums integral columns only; {s.col!r} is "
                f"{df.schema[s.col].dataType.simpleString()}, whose bucketed "
                "sum would not equal the window's"
            )


def _sort_keys(order: Sequence[str], descending: bool, nulls_last: bool) -> list[Column]:
    first, *rest = (F.col(k) for k in order)
    if descending:
        head = first.desc_nulls_last() if nulls_last else first.desc_nulls_first()
    else:
        head = first.asc_nulls_last() if nulls_last else first.asc_nulls_first()
    return [head] + [k.desc() if descending else k.asc() for k in rest]


def _frame(w: Window, frame: str) -> Window:
    end = Window.currentRow if frame == "inclusive" else -1
    return w.rowsBetween(Window.unboundedPreceding, end)


def _masked(s: Scan, value: Column) -> Column:
    return value if s.keep is None else F.when(s.keep, value)


def _scan_window(df, scans, parts, keys) -> DataFrame:
    w = Window.partitionBy(*parts).orderBy(*keys)
    for s in scans:
        if s.fn == "row_number":
            value = F.row_number().over(w)
            value = value - 1 if s.frame == "exclusive" else value
        elif s.frame == "total":
            value = _AGG[s.fn](s.col).over(Window.partitionBy(*parts))
        else:
            value = _AGG[s.fn](s.col).over(_frame(w, s.frame))
        df = df.withColumn(s.out, _masked(s, value))
    return df


def _scan_bucketed(df, order, scans, parts, keys, descending, nulls_last, bucket) -> DataFrame:
    if bucket is None:
        df = monotone_range_buckets(df, order[0])
        bucket = F.col("_bkt")
    # null first keys take the bucket the scan visits first or last
    null_bkt = (1 << 31) - 1 if nulls_last != descending else -(1 << 31)
    rows = df.withColumn(
        "_bkt", F.when(F.col(order[0]).isNull(), F.lit(null_bkt)).otherwise(bucket)
    )
    totals = rows.groupBy(*parts, "_bkt").agg(
        *[
            (F.count(F.lit(1)) if s.fn == "row_number" else _AGG[s.fn](s.col)).alias(
                f"_t{i}"
            )
            for i, s in enumerate(scans)
        ]
    )
    bkt = F.col("_bkt").desc() if descending else F.col("_bkt").asc()
    before = _frame(Window.partitionBy(*parts).orderBy(bkt), "exclusive")
    keys_at = [*parts, "_bkt"]
    base = totals.select(
        *[F.col(k).alias(f"_k{i}") for i, k in enumerate(keys_at)],
        *[
            _FOLD[s.fn](f"_t{i}")
            .over(Window.partitionBy(*parts) if s.frame == "total" else before)
            .alias(f"_b{i}")
            for i, s in enumerate(scans)
        ],
    )
    # null-safe: a null partition key is a partition like any other
    on = reduce(
        lambda a, b: a & b,
        [F.col(k).eqNullSafe(F.col(f"_k{i}")) for i, k in enumerate(keys_at)],
    )
    out = rows.join(F.broadcast(base), on)
    within = Window.partitionBy(*parts, "_bkt").orderBy(*keys)
    for i, s in enumerate(scans):
        b = F.col(f"_b{i}")
        if s.frame == "total":
            value = b
        elif s.fn == "row_number":
            value = F.coalesce(b, F.lit(0)) + F.row_number().over(within)
            value = value - 1 if s.frame == "exclusive" else value
        else:
            w = _AGG[s.fn](s.col).over(_frame(within, s.frame))
            if s.fn == "min":
                value = F.least(b, w)
            elif s.fn == "max":
                value = F.greatest(b, w)
            else:
                value = F.when(b.isNull(), w).when(w.isNull(), b).otherwise(b + w)
        out = out.withColumn(s.out, _masked(s, value))
    return out.drop(
        "_bkt",
        *[f"_k{i}" for i in range(len(keys_at))],
        *[f"_b{i}" for i in range(len(scans))],
    )


def ordered_scan(
    df: DataFrame,
    order: Sequence[str],
    scans: Sequence[Scan],
    *,
    partition_by: Sequence[str] = (),
    descending: bool = False,
    nulls_last: bool = False,
    bucket: Column | None = None,
    single_task: bool | None = None,
) -> DataFrame:
    """``df`` with one column per :class:`Scan`: running aggregates in
    ``order`` (column names, all ascending or all ``descending``) within
    each ``partition_by`` group.  The first key's nulls come first in
    the scan unless ``nulls_last``; later keys take Spark's default for
    the direction.  ``bucket`` is an integer column non-decreasing in
    the first key, for keys with a fixed domain.  The arms and their
    choice are in the module docstring."""
    _check(df, scans)
    parts = list(partition_by)
    keys = _sort_keys(order, descending, nulls_last)
    if single_task is None:
        numeric = isinstance(df.schema[order[0]].dataType, NumericType)
        single_task = (bucket is None and not numeric) or fits_single_task(df)
    if single_task:
        return _scan_window(df, scans, parts, keys)
    return _scan_bucketed(df, order, scans, parts, keys, descending, nulls_last, bucket)
