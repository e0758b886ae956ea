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

Spark shape: one method table (scaled term + step direction) and one
body, two ``operators.windows.ordered_scan`` calls shared by all three
methods: the rank, then the cumulative extreme.  The scan owns the
single-window and bucketed arms (the module docstring of
``operators/windows.py``); p in [0, 1] buckets as ``floor(p * n)``
without a bounds pass.  Unpartitioned calls decide the arm on the
measured input (``p_adjust``).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from transcriptomics_data_integration_spark.operators import windows
from transcriptomics_data_integration_spark.operators.windows import Scan

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


def _scaled(method: str, p_col: str) -> Column:
    term, _ = _METHODS[method]
    return F.least(
        term(F.col(p_col), F.col("_n"), F.col("_rank"), F.col("_cn")), F.lit(1.0)
    )


def _adjust(
    df: DataFrame,
    p_col: str,
    out_col: str,
    method: str,
    partition_cols: list[str] | None,
    tiebreak_col: str | None,
    single_task: bool,
    n_buckets: int = 1024,
) -> DataFrame:
    """Rank, scale, then the cumulative extreme, both scans over the
    (partition, order-by-p) order; ``single_task`` picks the arm and
    ``n_buckets`` the bucketed arm's p-range buckets.  BY alone joins
    the one-row-per-partition (n, c(n)) aggregate, so the O(n) harmonic
    fold runs once per partition, not once per row."""
    parts = partition_cols or []
    step_up = _METHODS[method][1]
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
    n = [] if method == "BY" else [Scan("_n", "count", p_col, "total")]
    scan = partial(
        windows.ordered_scan,
        order=[p_col] + ([tiebreak_col] if tiebreak_col else []),
        partition_by=parts,
        nulls_last=True,
        bucket=F.least(
            F.floor(F.col(p_col) * n_buckets).cast("int"), F.lit(n_buckets - 1)
        ),
        single_task=single_task,
    )
    ranked = scan(df, scans=[Scan("_rank", "row_number"), *n])
    # a null p's cumulative extreme would see its neighbours' values
    extreme = Scan(
        out_col, "min" if step_up else "max", "_scaled", keep=F.col(p_col).isNotNull()
    )
    return scan(
        ranked.withColumn("_scaled", _scaled(method, p_col)),
        scans=[extreme],
        descending=step_up,
    ).drop("_rank", "_n", "_cn", "_scaled")


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

    Unpartitioned calls take the single window only on an input that
    fits one task, and otherwise the bucketed arm.  When Catalyst's
    estimate cannot prove the input small, the call is EAGER: it
    persists the input (registered for ``runtime.cleanup_persisted``),
    runs one materializing job and decides on the measured size
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
    small = True
    if not partition_cols:
        df, small = windows.fits_single_task_measured(df)
    return _adjust(df, p_col, out_col, method, partition_cols, tiebreak_col, small)
