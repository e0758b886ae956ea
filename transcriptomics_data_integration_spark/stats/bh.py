"""Multiple-testing p-adjustment: BH / BY / holm / none (SURVEY.md M10).

Reference: the DE scripts' documented ``adjust`` argument surface
``{"none","BH","fdr","BY","holm"}``
(`scripts/data_integration/DiffExpression_closedPlatform.R:24`, consumed
by ``topTable(adjust.method=...)`` at `:184,566,600`).  Semantics pinned
to R ``p.adjust``:

    BH   : adj_i = min_{j >= i} min(1, p_(j) * n / j)
    fdr  : alias of BH (R's own alias)
    BY   : adj_i = min_{j >= i} min(1, c(n) * p_(j) * n / j),
           c(n) = sum_{i=1..n} 1/i  (Benjamini-Yekutieli 2001 —
           FDR under arbitrary dependence)
    holm : adj_i = max_{j <= i} min(1, (n - j + 1) * p_(j))
           (step-DOWN: forward cumulative max over ascending p)
    none : identity

i.e. rank ascending by p, scale, then a cumulative extreme — reverse
cummin for the step-up methods, forward cummax for holm.  R's NA rule
holds on both arms: a null p stays null and counts neither in n nor
in any rank (nulls sort after every p).  Ties receive
identical adjusted values automatically (equal p with different ranks
collapse under the cumulative extreme).  ``min(1, .)`` commutes with
both cummin and cummax, so clamping per-row before the window is
bit-identical to R's post-window ``pmin(1, ...)``.

The BY factor c(n) is summed as an ORDERED left fold over ascending i
(``aggregate(transform(sequence(1,n), ...))``) so the IEEE double is
reproducible in any engine that folds left — the DuckDB oracle replays
the same fold via ``list_reduce``; an unordered SUM over 1/i would be
permutation-dependent in the last ulp.

Spark shape: one method table (scaled term + step direction) and two
arm functions shared by all three methods.  ``_adjust_window`` runs the
rank and the cumulative extreme as windows over the same (optional
partition, order-by-p) window — one shuffle if partitioned,
single-stage on post-aggregate relations otherwise.  Unpartitioned
calls on relations that neither Catalyst's estimate nor a measurement
proves small route to ``_adjust_histogram``, the bucket-partitioned
billion-row scale path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from transcriptomics_data_integration_spark.operators import windows

# method -> (scaled term over (p, n, rank, c(n)) in R's operand order,
# step-up).  Step-up methods take a reverse cummin, step-down a forward
# cummax.  BY's ``q * n/i * p`` order is kept so the doubles match an R
# replay bit-for-bit.
_METHODS = {
    "BH": (lambda p, n, rank, cn: p * n / rank, True),
    "BY": (lambda p, n, rank, cn: cn * n / rank * p, True),
    "holm": (lambda p, n, rank, cn: (n - rank + F.lit(1)) * p, False),
}


def _harmonic(n_col: str, chunk: int = 1_000_000):
    """c(n) = sum_{i=1..n} 1/i as an ORDERED ascending left fold —
    the Benjamini-Yekutieli dependence factor, bit-reproducible across
    engines (R's ``sum(1/(1:n))`` is the same left fold).  The fold is
    CHUNKED: an outer fold over ceil(n/chunk) chunk indices threads the
    accumulator through an inner left fold over each chunk's 1/i terms,
    so the addition ORDER is identical to the flat fold (bit-identical
    result) while the transient ``sequence`` array never exceeds
    ``chunk`` elements (~8 MB) — no O(n) array materialization and no
    ``sequence`` 2^31 element cap, so the expression is safe at any n a
    bigint can hold.  Still O(n) flops in ONE evaluation: callers must
    attach it to a ONE-row aggregate, never a per-row column."""
    n = f"cast({n_col} as bigint)"
    return F.expr(
        f"if({n} >= 1,"
        f" aggregate(sequence(cast(0 as bigint), ({n} - 1) div {chunk}),"
        " cast(0.0 as double),"
        f" (acc, k) -> aggregate("
        f"   transform(sequence(k * {chunk} + 1, least((k + 1) * {chunk}, {n})),"
        "    i -> double(1) / i),"
        "   acc, (a, x) -> a + x)),"
        " cast(0.0 as double))"
    )


def _orders(p_col: str, tiebreak_col: str | None) -> tuple[list[Column], list[Column]]:
    """(ascending, descending) sort keys: p with nulls last, then the
    tie-break column."""
    p = F.col(p_col)
    tie = [F.col(tiebreak_col)] if tiebreak_col else []
    return (
        [p.asc_nulls_last()] + [k.asc() for k in tie],
        [p.desc_nulls_last()] + [k.desc() for k in tie],
    )


def _scaled(method: str, p_col: str) -> Column:
    term, _ = _METHODS[method]
    return F.least(
        term(F.col(p_col), F.col("_n"), F.col("_rank"), F.col("_cn")), F.lit(1.0)
    )


def _null_p_stays_null(p_col: str, adjusted: Column) -> Column:
    """A null p's cumulative extreme would see its neighbours' values."""
    return F.when(F.col(p_col).isNotNull(), adjusted)


def _adjust_window(
    df: DataFrame,
    p_col: str,
    out_col: str,
    method: str,
    partition_cols: list[str] | None,
    tiebreak_col: str | None,
) -> DataFrame:
    """Rank, scale, then the cumulative extreme — all windows over the
    (partition, order-by-p) window.  BY alone joins the one-row-per-
    partition (n, c(n)) aggregate, so the O(n) harmonic fold runs once
    per partition, not once per row."""
    parts = partition_cols or []
    step_up = _METHODS[method][1]
    asc, desc = _orders(p_col, tiebreak_col)
    if method == "BY":
        counts = (
            df.groupBy(*parts)
            .agg(F.count(p_col).alias("_n"))
            .withColumn("_cn", _harmonic("_n"))
        )
        df = (
            df.join(F.broadcast(counts), parts)
            if parts
            else df.crossJoin(F.broadcast(counts))
        )
    df = df.withColumn(
        "_rank", F.row_number().over(Window.partitionBy(*parts).orderBy(*asc))
    )
    if method != "BY":
        df = df.withColumn("_n", F.count(p_col).over(Window.partitionBy(*parts)))
    w_cum = (
        Window.partitionBy(*parts)
        .orderBy(*(desc if step_up else asc))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    extreme = F.min if step_up else F.max
    return (
        df.withColumn("_scaled", _scaled(method, p_col))
        .withColumn(out_col, _null_p_stays_null(p_col, extreme("_scaled").over(w_cum)))
        .drop("_rank", "_n", "_cn", "_scaled")
    )


def _adjust_histogram(
    df: DataFrame,
    p_col: str,
    out_col: str,
    method: str,
    tiebreak_col: str | None,
    n_buckets: int = 1024,
) -> DataFrame:
    """Exact adjustment without a global sort window — the billion-row
    scale path.  The window arm's unpartitioned ``orderBy(p)`` moves the
    whole relation to ONE task; fine for post-aggregate gene lists,
    fatal for permutation-scale p-sets.  This arm range-buckets p into
    ``n_buckets`` equi-width bins (p in [0,1] by contract, so no bounds
    pass) so every window is partitioned by bucket:

    1. histogram pass: per-bucket counts -> cumulative base rank per
       bucket + total n (a <= n_buckets-row relation, broadcast back);
       BY's c(n) is folded ONCE on a one-row total and broadcast in;
    2. rank pass: global rank = bucket base + row_number within bucket
       (exact, because buckets are value ranges: every p in bucket k
       sorts before every p in bucket k+1, and ties share a bucket);
    3. cumulative extreme = within-bucket cumulative extreme combined
       with the extreme over the buckets before it in the scan order —
       the suffix-min of HIGHER buckets for the step-up methods, the
       prefix-max of LOWER buckets for holm — again computed on the
       tiny per-bucket relation and broadcast.  ``least``/``greatest``
       ignore nulls, so the first bucket in scan order (null edge)
       falls back to its within-bucket extreme alone.

    Bit-identical to ``_adjust_window`` (same scaled expression, same
    tie semantics); the only unpartitioned windows run on ``n_buckets``
    rows regardless of |df|.  Under a uniform-ish p distribution each
    bucket holds |df|/n_buckets rows; AQE skew-split covers spiky nulls
    at p≈0."""
    step_up = _METHODS[method][1]
    asc, desc = _orders(p_col, tiebreak_col)
    with_b = df.withColumn(
        "_bkt",
        F.least(
            F.floor(F.col(p_col) * n_buckets).cast("int"), F.lit(n_buckets - 1)
        ),
    )
    # null p lands in the last bucket (``least`` skips nulls) and
    # counts nowhere; it sorts after that bucket's p-values
    hist = with_b.groupBy("_bkt").agg(F.count(p_col).alias("_cnt"))
    w_base = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    cum = hist.withColumn("_base", F.coalesce(F.sum("_cnt").over(w_base), F.lit(0)))
    if method == "BY":
        totals = hist.agg(F.sum("_cnt").alias("_n")).withColumn(
            "_cn", _harmonic("_n")
        )
        cum = cum.crossJoin(F.broadcast(totals)).select("_bkt", "_base", "_n", "_cn")
    else:
        cum = cum.withColumn("_n", F.sum("_cnt").over(Window.partitionBy())).select(
            "_bkt", "_base", "_n"
        )
    ranked = (
        with_b.join(F.broadcast(cum), "_bkt")
        .withColumn(
            "_rank",
            F.col("_base")
            + F.row_number().over(Window.partitionBy("_bkt").orderBy(*asc)),
        )
        .withColumn("_scaled", _scaled(method, p_col))
    )
    extreme, combine = (F.min, F.least) if step_up else (F.max, F.greatest)
    bkt = F.col("_bkt").desc() if step_up else F.col("_bkt").asc()
    w_edge = Window.orderBy(bkt).rowsBetween(Window.unboundedPreceding, -1)
    edge = (
        ranked.groupBy("_bkt")
        .agg(extreme("_scaled").alias("_bext"))
        .withColumn("_edge", extreme("_bext").over(w_edge))
        .select("_bkt", "_edge")
    )
    w_in = (
        Window.partitionBy("_bkt")
        .orderBy(*(desc if step_up else asc))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ranked.join(F.broadcast(edge), "_bkt")
        .withColumn("_within", extreme("_scaled").over(w_in))
        .withColumn(
            out_col, _null_p_stays_null(p_col, combine(F.col("_within"), F.col("_edge")))
        )
        .drop("_bkt", "_base", "_n", "_cn", "_rank", "_scaled", "_within", "_edge")
    )


def p_adjust(
    df: DataFrame,
    p_col: str,
    out_col: str = "adj_p_value",
    method: str = "BH",
    partition_cols: list[str] | None = None,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """The reference DE scripts' full ``adjust`` argument surface
    (`DiffExpression_closedPlatform.R:24`): R ``p.adjust`` semantics.
    ``fdr`` is R's own alias of BH; ``none`` passes p through unchanged
    (R returns p itself).

    Adaptive scale guard: an unpartitioned sort window funnels the
    whole p-set through one task, so unpartitioned calls take it only
    on an input that fits one task, and otherwise the bit-identical
    bucket-partitioned histogram arm.  When Catalyst's estimate cannot
    prove the input small, the call is EAGER: it persists the input
    (registered for ``runtime.cleanup_persisted``), runs one
    materializing job and decides on the measured size
    (``windows.fits_single_task_measured``); either arm then reads the
    cached input.  Partitioned calls take the window arm and run no
    job."""
    if method == "none":
        return df.withColumn(out_col, F.col(p_col))
    method = "BH" if method == "fdr" else method
    if method not in _METHODS:
        raise ValueError(
            f"unknown p-adjust method {method!r}; expected one of "
            "'none', 'BH', 'fdr', 'BY', 'holm'"
        )
    if not partition_cols:
        df, small = windows.fits_single_task_measured(df)
        if not small:
            return _adjust_histogram(df, p_col, out_col, method, tiebreak_col)
    return _adjust_window(df, p_col, out_col, method, partition_cols, tiebreak_col)
