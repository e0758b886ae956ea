"""Hash-gateable fixed-schedule twins for the two remaining
rows-only robust-iterative kernels (r3 verdict item 6, mirroring the
``combat_eb2`` pattern):

- :func:`cqn_irls2_fixed` — M4's per-sample robust spline GC fit
  (`GenExpressionComb_RNAseq.R:183-201`) with a FIXED 2-step Huber
  IRLS on a 3-knot natural-spline basis, entirely relational.
- :func:`voom_loess_fixed` — M5's lowess mean-variance trend
  (`DiffExpression_openPlatform.R:442`) as a tricube-weighted LOCAL
  LINEAR fit over binned moments with one global bandwidth and no
  robustifying pass.

Both kernels quantize every cross-aggregate decision value (fitted
betas, robust scales, medians) to fixed ticks, so the only
engine-divergence channels left are per-row transcendentals (lcpm),
which the repo's round-6 output policy absorbs — the same determinism
scheme the gated ``combat_eb2`` / ``voom_trend`` queries use.  The
free-run kernels (``cqn_spline``, ``voom_weights_lowess``) remain the
full-fidelity paths; these twins gate the DATA-SIZED work (per-sample
moment passes, bin compression, weighted solves) with a DuckDB oracle.

Scale shape: everything is groupBy/window algebra on sample- or
bin-keyed relations — one gene-keyed pass to build per-gene stats, one
sample-keyed pass per IRLS step; the weighted solves run on bounded
per-sample / per-bin moment tuples, never raw rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from transcriptomics_data_integration_spark.runtime import register_persisted
from transcriptomics_data_integration_spark.stats.normalize import log2_cpm

# --------------------------------------------------------------------------
# Shared SQL text (identical in Spark and DuckDB — only + - * / CASE)
# --------------------------------------------------------------------------


def _pcube(a: str) -> str:
    """((a)_+)^3 — truncated-power cubic."""
    return f"(CASE WHEN ({a}) > 0.0e0 THEN ({a}) * ({a}) * ({a}) ELSE 0.0e0 END)"


def ns_basis_n1_sql(xs: str, kap1: str, kap3: str) -> str:
    """Natural-cubic-spline nonlinear basis term for 3 knots on the
    SCALED axis (middle knot at 0, unit inter-quartile span):
    n1 = d(kap1) - d(0) with d(k) = ((xs-k)_+^3 - (xs-kap3)_+^3)/(kap3-k).
    Same function space as R ``splines::ns`` with those knots
    (truncated-power form, ESL eq. 5.4-5.5)."""
    d_k1 = f"(({_pcube(f'({xs}) - ({kap1})')} - {_pcube(f'({xs}) - ({kap3})')}) / (({kap3}) - ({kap1})))"
    d_k2 = f"(({_pcube(xs)} - {_pcube(f'({xs}) - ({kap3})')}) / ({kap3}))"
    return f"({d_k1} - {d_k2})"


def cramer3_sql(m: dict[str, str]) -> tuple[str, str, str, str]:
    """(det, beta0, beta1, beta2) texts for the symmetric 3x3 weighted
    normal equations with moment column names
    ``sw swx swn swxx swxn swnn swy swxy swny`` (keys of ``m`` map
    logical -> actual column names).  Fixed cofactor expansion order —
    the emitted text is shared verbatim by both engines."""
    c = m
    det = (
        f"({c['sw']} * ({c['swxx']} * {c['swnn']} - {c['swxn']} * {c['swxn']})"
        f" - {c['swx']} * ({c['swx']} * {c['swnn']} - {c['swxn']} * {c['swn']})"
        f" + {c['swn']} * ({c['swx']} * {c['swxn']} - {c['swxx']} * {c['swn']}))"
    )
    b0 = (
        f"(({c['swy']} * ({c['swxx']} * {c['swnn']} - {c['swxn']} * {c['swxn']})"
        f" - {c['swx']} * ({c['swxy']} * {c['swnn']} - {c['swxn']} * {c['swny']})"
        f" + {c['swn']} * ({c['swxy']} * {c['swxn']} - {c['swxx']} * {c['swny']})) / _det)"
    )
    b1 = (
        f"(({c['sw']} * ({c['swxy']} * {c['swnn']} - {c['swxn']} * {c['swny']})"
        f" - {c['swy']} * ({c['swx']} * {c['swnn']} - {c['swxn']} * {c['swn']})"
        f" + {c['swn']} * ({c['swx']} * {c['swny']} - {c['swxy']} * {c['swn']})) / _det)"
    )
    b2 = (
        f"(({c['sw']} * ({c['swxx']} * {c['swny']} - {c['swxy']} * {c['swxn']})"
        f" - {c['swx']} * ({c['swx']} * {c['swny']} - {c['swxy']} * {c['swn']})"
        f" + {c['swy']} * ({c['swx']} * {c['swxn']} - {c['swxx']} * {c['swn']})) / _det)"
    )
    return det, b0, b1, b2


_HUBER_K = 1.345
_MAD_SIGMA = 1.4826


# --------------------------------------------------------------------------
# Twin 1: CQN spline fit, fixed 2-step Huber IRLS
# --------------------------------------------------------------------------


def cqn_irls2_fixed(
    df: DataFrame,
    gene_col: str,
    sample_col: str,
    count_col: str,
    gene_attrs: DataFrame,
    gc_col: str,
) -> DataFrame:
    """M4 twin — per-sample GC bias fit with a FIXED schedule:
    OLS on [1, xs, ns(xs)] -> Huber reweight (MAD scale) -> one
    weighted refit; fitted curve centered at its per-sample median is
    subtracted from lcpm (``cqn_spline``'s offset formulation).

    Knots sit at the tick-quantized global GC quartiles; the x axis is
    scaled to unit inter-quartile span so every beta is O(1-10) and
    the round-9 beta quantization costs nothing at round-6 output.
    Output: one row per (gene, sample) with (gc, lcpm, fit2,
    lcpm_cqn) — callers aggregate.
    """
    lcpm = log2_cpm(df, sample_col, count_col)
    attrs = gene_attrs.select(
        F.col(gene_col), F.col(gc_col).cast("double").alias("gc")
    )
    w_all = Window.partitionBy()
    with_k = (
        attrs.withColumn("k1", F.round(F.expr("percentile(gc, 0.25)").over(w_all), 6))
        .withColumn("k2", F.round(F.expr("percentile(gc, 0.5)").over(w_all), 6))
        .withColumn("k3", F.round(F.expr("percentile(gc, 0.75)").over(w_all), 6))
    )
    # scaled axis; NULL basis (-> sample drop) when the quartiles
    # degenerate instead of an ANSI division error
    basis = with_k.select(
        gene_col,
        "gc",
        F.expr(
            "CASE WHEN k3 > k1 AND k3 > k2 THEN (gc - k2) / (k3 - k1) END"
        ).alias("xs"),
        F.expr(
            "CASE WHEN k3 > k1 AND k3 > k2 THEN (k1 - k2) / (k3 - k1) END"
        ).alias("kap1"),
        F.expr(
            "CASE WHEN k3 > k1 AND k3 > k2 THEN (k3 - k2) / (k3 - k1) END"
        ).alias("kap3"),
    ).withColumn("n1", F.expr(ns_basis_n1_sql("xs", "kap1", "kap3")))
    cells = lcpm.join(F.broadcast(basis.select(gene_col, "gc", "xs", "n1")), gene_col)

    def moments(prefix: str, weight: str | None):
        w = weight or "1.0e0"
        return [
            F.expr(f"SUM({w})").alias(f"{prefix}w"),
            F.expr(f"SUM({w} * xs)").alias(f"{prefix}wx"),
            F.expr(f"SUM({w} * n1)").alias(f"{prefix}wn"),
            F.expr(f"SUM({w} * xs * xs)").alias(f"{prefix}wxx"),
            F.expr(f"SUM({w} * xs * n1)").alias(f"{prefix}wxn"),
            F.expr(f"SUM({w} * n1 * n1)").alias(f"{prefix}wnn"),
            F.expr(f"SUM({w} * lcpm)").alias(f"{prefix}wy"),
            F.expr(f"SUM({w} * xs * lcpm)").alias(f"{prefix}wxy"),
            F.expr(f"SUM({w} * n1 * lcpm)").alias(f"{prefix}wny"),
        ]

    def solved(agg: DataFrame, prefix: str) -> DataFrame:
        names = {
            k: f"{prefix}{k[1:]}" if k.startswith("s") else k
            for k in ["sw", "swx", "swn", "swxx", "swxn", "swnn", "swy", "swxy", "swny"]
        }
        det, b0, b1, b2 = cramer3_sql(names)
        return (
            agg.withColumn("_det", F.expr(det))
            .where(F.abs(F.col("_det")) > 1e-12)
            # round-9 beta quantization: collapses cross-engine
            # summation-order ulp noise into identical ticks
            .withColumn("b0", F.round(F.expr(b0), 9))
            .withColumn("b1", F.round(F.expr(b1), 9))
            .withColumn("b2", F.round(F.expr(b2), 9))
            .select(sample_col, "b0", "b1", "b2")
        )

    it1 = solved(cells.groupBy(sample_col).agg(*moments("s", None)), "s")
    with_r = cells.join(F.broadcast(it1), sample_col).withColumn(
        "r", F.expr("lcpm - (b0 + b1 * xs + b2 * n1)")
    )
    w_s = Window.partitionBy(sample_col)
    with_s = (
        with_r.withColumn("_rmed", F.expr("percentile(r, 0.5)").over(w_s))
        .withColumn(
            "_mad",
            F.round(
                F.expr("percentile(abs(r - _rmed), 0.5)").over(w_s) * _MAD_SIGMA, 9
            ),
        )
        .withColumn(
            "w2",
            F.round(
                F.expr(
                    f"CASE WHEN _mad <= 0.0e0 THEN 1.0e0"
                    f" WHEN abs(r) / _mad <= {_HUBER_K} THEN 1.0e0"
                    f" ELSE {_HUBER_K} * _mad / abs(r) END"
                ),
                6,
            ),
        )
    )
    it2 = solved(with_s.groupBy(sample_col).agg(*moments("t", "w2")), "t")
    fitted = (
        cells.join(F.broadcast(it2), sample_col)
        .withColumn("fit2", F.expr("b0 + b1 * xs + b2 * n1"))
        .withColumn(
            "_fmed", F.round(F.expr("percentile(fit2, 0.5)").over(w_s), 9)
        )
        .withColumn("lcpm_cqn", F.expr("lcpm - (fit2 - _fmed)"))
    )
    return fitted.select(gene_col, sample_col, "gc", "lcpm", "fit2", "lcpm_cqn")


# --------------------------------------------------------------------------
# Twin 2: voom trend as binned tricube local-linear smoother
# --------------------------------------------------------------------------


_TRICUBE = (
    "(CASE WHEN h <= 0.0e0 THEN 1.0e0"  # degenerate axis: global fit
    " WHEN abs(x - cb) / h < 1.0e0 THEN"
    " (1.0e0 - (abs(x - cb) / h) * (abs(x - cb) / h) * (abs(x - cb) / h))"
    " * (1.0e0 - (abs(x - cb) / h) * (abs(x - cb) / h) * (abs(x - cb) / h))"
    " * (1.0e0 - (abs(x - cb) / h) * (abs(x - cb) / h) * (abs(x - cb) / h))"
    " ELSE 0.0e0 END)"
)
# the local-linear trend at x from the weighted sums; each twin closes
# the CASE with its fallback for a singular fit
_LOCAL_LINEAR = (
    "CASE WHEN _den > 1.0e-12 THEN"
    " (swy - ((sw * swxy - swx * swy) / _den) * swx) / sw"
    " + ((sw * swxy - swx * swy) / _den) * x"
)


def _voom_bins(
    df: DataFrame, gene_col: str, sample_col: str, count_col: str, n_bins: int
) -> tuple[DataFrame, DataFrame]:
    """Pass 1 of both voom twins: per-gene (x, y) = round-9 (mean lcpm,
    sqrt sd) ranked into ``n_bins`` bins with the half x-range ``h``
    (persisted, registered), and the bin moments."""
    lcpm = log2_cpm(df, sample_col, count_col)
    per_gene = (
        lcpm.groupBy(gene_col)
        .agg(
            F.avg("lcpm").alias("mean_lcpm"),
            F.sqrt(F.sqrt(F.var_samp("lcpm"))).alias("sqrt_sd"),
            F.count(F.lit(1)).alias("n_obs"),
        )
        .where(F.col("sqrt_sd").isNotNull() & (F.col("sqrt_sd") > 0))
        # round-9 x/y quantization: every downstream moment is built
        # from identical ticks in both engines (voom_trend's scheme)
        .withColumn("x", F.round("mean_lcpm", 9))
        .withColumn("y", F.round("sqrt_sd", 9))
    )
    w_all = Window.partitionBy()
    ranked = per_gene.withColumn(
        "bin",
        F.ntile(n_bins).over(Window.orderBy(F.col("x").asc(), F.col(gene_col).asc())),
    ).withColumn(
        "h",
        F.round((F.max("x").over(w_all) - F.min("x").over(w_all)) / 2.0, 9),
    ).persist()  # gene-bounded; read by the bin moments AND the sweep
    register_persisted(ranked)
    bins = ranked.groupBy("bin").agg(
        F.round(F.avg("x"), 9).alias("cb"),
        F.count(F.lit(1)).alias("nb"),
        F.round(F.sum("x"), 9).alias("bsx"),
        F.round(F.sum("y"), 9).alias("bsy"),
        F.round(F.sum(F.col("x") * F.col("y")), 9).alias("bsxy"),
        F.round(F.sum(F.col("x") * F.col("x")), 9).alias("bsxx"),
    )
    return ranked, bins


def _tricube_sums(pairs: DataFrame, keys: list[str], suffix: str = "") -> DataFrame:
    """Per gene (``keys``), the tricube-weighted sums of the bin
    moments ``nb``/``bsx``/... (+ ``suffix``) over every (gene, bin)
    pair, and the local-linear determinant ``_den``."""
    return (
        pairs.withColumn("tw", F.round(F.expr(_TRICUBE), 9))
        .groupBy(*keys)
        .agg(
            F.sum(F.expr(f"tw * nb{suffix}")).alias("sw"),
            F.sum(F.expr(f"tw * bsx{suffix}")).alias("swx"),
            F.sum(F.expr(f"tw * bsy{suffix}")).alias("swy"),
            F.sum(F.expr(f"tw * bsxx{suffix}")).alias("swxx"),
            F.sum(F.expr(f"tw * bsxy{suffix}")).alias("swxy"),
        )
        .withColumn("_den", F.expr("sw * swxx - swx * swx"))
    )


def voom_loess_fixed(
    df: DataFrame,
    gene_col: str,
    sample_col: str,
    count_col: str,
    n_bins: int = 64,
) -> DataFrame:
    """M5 twin — the lowess mean-variance trend as a deterministic
    tricube-weighted LOCAL LINEAR fit over ``n_bins`` rank bins of the
    per-gene mean-lcpm axis, evaluated at each gene's own mean:

        trend(x_g) = b0 + b1 x_g  from the weighted fit over bin
        moments, weight = tricube(|x_g - c_b| / h), h = half x-range

    This is lowess's estimator with one global bandwidth, bin-moment
    compression (the standard scale path for loess at big G) and no
    robustifying pass — a fixed schedule, hence hash-gateable; the
    R-exact sequential lowess stays in ``voom_weights_lowess``.
    Output mirrors voom_trend: (gene, n_obs, mean_lcpm, sqrt_sd,
    trend_sqrt_sd, weight).
    """
    ranked, bins = _voom_bins(df, gene_col, sample_col, count_col, n_bins)
    pairs = ranked.join(F.broadcast(bins))
    fitted = (
        _tricube_sums(pairs, [gene_col, "x", "mean_lcpm", "sqrt_sd", "n_obs"])
        .withColumn("trend_sqrt_sd", F.expr(_LOCAL_LINEAR + " ELSE swy / sw END"))
        .where(F.col("trend_sqrt_sd") > 0)
        .withColumn("weight", F.pow(F.col("trend_sqrt_sd"), -4.0))
    )
    return fitted.select(
        gene_col, "n_obs", "mean_lcpm", "sqrt_sd", "trend_sqrt_sd", "weight"
    )


def voom_loess_robust_fixed(
    df: DataFrame,
    gene_col: str,
    sample_col: str,
    count_col: str,
    n_bins: int = 64,
) -> DataFrame:
    """M5 twin with ONE lowess robustifying pass (r4 verdict item 7):
    the :func:`voom_loess_fixed` tricube local-linear fit, then R
    lowess's bisquare reweighting off the residuals

        delta = 6 * median(|y - trend1|)
        rw    = (1 - (r/delta)^2)^2  for |r| < delta, else 0
        (delta = 0 -> rw = 1: a perfect first fit robustifies to itself)

    and a refit over rw-weighted bin moments (bin centers stay the
    pass-1 geometry; robustness reweights points, not the binning).
    R's lowess at voom's call (``lowess(sx, sy, f=0.5)``) runs iter=3
    robustifying passes — the FULL schedule lives in the R-exact
    sequential ``voom_weights_lowess`` (rows-only); this twin pins the
    first robustifying step under a hash gate, bounding the family
    (0-step twin, 1-step twin, exact rows-only) so a regression in the
    robust machinery cannot hide behind the rows-only gate.

    Scale shape matches the 0-step twin: one per-gene moment pass, bin
    compression (bounded n_bins relation, broadcast), map-side
    combinable aggregates; the only additions are a second bounded bin
    pass and a 1-row residual-median attach (crossJoin(broadcast)).
    """
    ranked, bins = _voom_bins(df, gene_col, sample_col, count_col, n_bins)
    trend_sql = _LOCAL_LINEAR + " ELSE swy / sw END"
    # bins enters pairs as a CROSS join (each gene weighs ALL bins via
    # the tricube, zero beyond h) — rename its key so the gene's own
    # bin id survives unambiguously into the residual pass
    binsr = bins.withColumnRenamed("bin", "_bb")
    pairs = ranked.join(F.broadcast(binsr))
    fit1 = (
        _tricube_sums(
            pairs, [gene_col, "bin", "x", "y", "mean_lcpm", "sqrt_sd", "n_obs", "h"]
        )
        .withColumn("r", F.expr(f"round(y - round({trend_sql}, 9), 9)"))
        .drop("sw", "swx", "swy", "swxx", "swxy", "_den")
        # gene-bounded; read by the residual-median agg, the pass-2
        # bin moments AND the pass-2 sweep — without the cache the
        # whole gene x bins pass-1 cross join re-executes per branch
        .persist()
    )
    register_persisted(fit1)
    delta = fit1.agg(
        F.round(F.expr("6.0e0 * percentile(abs(r), 0.5e0)"), 9).alias("delta")
    )
    rw_sql = (
        "CASE WHEN delta <= 0.0e0 THEN 1.0e0"
        " WHEN abs(r) / delta < 1.0e0 THEN"
        " (1.0e0 - (r / delta) * (r / delta)) * (1.0e0 - (r / delta) * (r / delta))"
        " ELSE 0.0e0 END"
    )
    rob = fit1.crossJoin(F.broadcast(delta)).withColumn(
        "rw", F.round(F.expr(rw_sql), 9)
    )
    # pass-2 bin moments: rw-weighted; centers (cb) stay the pass-1
    # geometry — robustness reweights points, not the binning
    bins2 = (
        rob.groupBy("bin")
        .agg(
            F.round(F.sum("rw"), 9).alias("nb2"),
            F.round(F.sum(F.expr("rw * x")), 9).alias("bsx2"),
            F.round(F.sum(F.expr("rw * y")), 9).alias("bsy2"),
            F.round(F.sum(F.expr("rw * x * y")), 9).alias("bsxy2"),
            F.round(F.sum(F.expr("rw * x * x")), 9).alias("bsxx2"),
        )
        .join(binsr.select(F.col("_bb").alias("bin"), "cb"), "bin")
        .withColumnRenamed("bin", "_bb")
    )
    pairs2 = rob.join(F.broadcast(bins2))
    fitted = (
        _tricube_sums(pairs2, [gene_col, "x", "y", "mean_lcpm", "sqrt_sd", "n_obs"], "2")
        .withColumn(
            "trend_sqrt_sd",
            F.expr(
                _LOCAL_LINEAR + " WHEN sw > 0.0e0 THEN swy / sw"
                # every robustness weight in reach is 0: keep the
                # gene's own y (then subject to the > 0 output filter)
                " ELSE y END"
            ),
        )
        .where(F.col("trend_sqrt_sd") > 0)
        .withColumn("weight", F.pow(F.col("trend_sqrt_sd"), -4.0))
    )
    return fitted.select(
        gene_col, "n_obs", "mean_lcpm", "sqrt_sd", "trend_sqrt_sd", "weight"
    )
