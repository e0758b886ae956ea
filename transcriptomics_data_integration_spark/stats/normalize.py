"""Count-data normalization kernels (SURVEY.md M4, M5, M7, M18).

- ``log2_cpm``: counts -> log2 counts-per-million with the voom
  half-count offset (`DiffExpression_openPlatform.R:427-442`).
- ``voom_weights`` (M5): mean-variance trend -> per-observation
  precision weights.  The lowess trend is replaced by quantile-binned
  medians (piecewise-constant trend) — same shape, closed form, and
  oracle-checkable; weights = trend_sqrt_sd^-4 exactly as voom.
- ``voom_weights_lowess`` (M5, full fidelity): the same pipeline with
  the R ``lowess(sx, sy, f=0.5)`` trend of ``limma::voom``
  (`DiffExpression_openPlatform.R:427-442`) — stats/lowess.py ports
  Cleveland's algorithm exactly; rows-only gate (lowess is not
  SQL-expressible), golden-tested against an independent numpy
  reference in tests.
- ``cqn_simplified`` (M4): conditional-quantile normalization reduced
  to its bias-removal core (`GenExpressionComb_RNAseq.R:183-201`,
  method `README.md:101`): per GC-content (and length) bin, subtract
  the bin-median log2-CPM offset relative to the global median.
- ``cqn_spline`` (M4, full fidelity): per-sample ROBUST natural-cubic-
  spline regression of log2-CPM on GC content — the smooth systematic-
  effect fit of the cqn package (`GenExpressionComb_RNAseq.R:190`,
  ``cqn(counts, x=gc, lengths=...)``) — with Huber IRLS replacing
  cqn's quantile regression; the fitted bias curve (centered at its
  median) is subtracted per sample.
- ``array_weights`` (M7): per-sample quality weights
  (`DiffExpression_closedPlatform.R:456-464`): inverse mean squared
  residual from per-gene means, normalized to mean 1 — the one-step
  closed form of limma's iterated heuristic.
- ``qc_sample_metrics`` (M18): per-sample distribution summaries
  (quartiles, IQR; the data behind aqm boxplots/RLE,
  `QC_Affy_U133Plus2.R:122-138`).

All pure SQL; trends/medians use exact percentiles (linear
interpolation matches across engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from transcriptomics_data_integration_spark.functions.exact import dsum
from transcriptomics_data_integration_spark.operators.joins import label_samples


def log2_cpm(
    df: DataFrame, sample_col: str, count_col: str, out_col: str = "lcpm"
) -> DataFrame:
    """log2( (count + 0.5) / (libsize + 1) * 1e6 ) — voom's transform."""
    lib = df.groupBy(sample_col).agg(F.sum(count_col).alias("_lib"))
    return (
        df.join(F.broadcast(lib), sample_col)
        .withColumn(
            out_col,
            F.log2(
                (F.col(count_col) + 0.5) / (F.col("_lib") + 1.0) * 1.0e6
            ),
        )
        .drop("_lib")
    )


def voom_weights(
    df: DataFrame,
    gene_col: str,
    sample_col: str,
    count_col: str,
    n_bins: int = 20,
) -> DataFrame:
    """Per-gene mean-variance trend on the log2-CPM scale and the voom
    precision weight trend^-4.  Returns one row per gene: mean_lcpm,
    sqrt_sd, trend_bin, trend_sqrt_sd, weight."""
    lcpm = log2_cpm(df, sample_col, count_col)
    per_gene = lcpm.groupBy(gene_col).agg(
        F.avg("lcpm").alias("mean_lcpm"),
        F.sqrt(F.sqrt(F.var_samp("lcpm"))).alias("sqrt_sd"),
        F.count(F.lit(1)).alias("n_obs"),
    ).where(F.col("sqrt_sd").isNotNull() & (F.col("sqrt_sd") > 0))
    # order by the ROUNDED mean for binning: engines' avg() can differ in
    # the last ulp (summation order), and a bin-boundary flip would move a
    # gene between trend bins; rounding to 9 decimals collapses the ulp
    # noise into a deterministic tie broken by gene id
    binned = per_gene.withColumn(
        "trend_bin",
        F.ntile(n_bins).over(
            Window.orderBy(F.round(F.col("mean_lcpm"), 9).asc(), F.col(gene_col).asc())
        ),
    )
    # per-bin median as a WINDOW aggregate: one shuffle by bin and the
    # upstream (lib-size join + per-gene agg + ntile) executes ONCE —
    # the agg+join-back form re-ran that whole subtree as the probe side
    return (
        binned.withColumn(
            "trend_sqrt_sd",
            F.percentile("sqrt_sd", F.lit(0.5)).over(Window.partitionBy("trend_bin")),
        )
        .withColumn("weight", F.pow(F.col("trend_sqrt_sd"), -4.0))
        .select(gene_col, "mean_lcpm", "sqrt_sd", "n_obs", "trend_bin", "trend_sqrt_sd", "weight")
    )


def voom_weights_lowess(
    df: DataFrame,
    gene_col: str,
    sample_col: str,
    count_col: str,
    f: float = 0.5,
    iter: int = 3,
    targets: DataFrame | None = None,
    group_col: str | None = None,
) -> DataFrame:
    """M5 full fidelity — the voom mean-variance trend exactly as
    ``limma::voom`` computes it (`DiffExpression_openPlatform.R:427-442`):

    1. per-gene mean log2-CPM ``sx`` and quarter-root RESIDUAL
       standard deviation ``sy = sqrt(fit$sigma)``.  voom fits the
       design first (``~0+group``, `DiffExpression_openPlatform.R:
       438-442`) and uses the residual SD about the fitted values;
       pass ``targets`` (sample -> group) + ``group_col`` to compute
       the pooled within-group residual SD with the design's
       ``n - n_groups`` degrees of freedom.  Without a design
       (``targets=None``) the model is intercept-only (``~1``) and
       the residual SD IS the per-gene sample SD.
    2. ``lo <- lowess(sx, sy, f=0.5)`` — R's exact algorithm
       (stats/lowess.py), three robustifying iterations,
    3. trend value at each gene's own mean via ``approxfun(lo,
       rule=2)`` (linear interpolation, endpoint clamping),
    4. ``weight = trend^-4``.

    Execution: the per-gene (mean, sqrt_sd) aggregate is distributed
    (with a design: one sample-sheet lookup + per-(gene, group) partial
    moments, still a single gene-keyed shuffle); the lowess fit runs
    in ONE Arrow batch over that bounded relation (gene count is
    O(10^4..10^6) — SURVEY §2.5 M5 documents the split, mirroring
    where R itself runs lowess).  Returns one row per gene:
    (gene, mean_lcpm, sqrt_sd, n_obs, trend_sqrt_sd, weight).
    """
    import pandas as pd

    from transcriptomics_data_integration_spark.stats.lowess import approx_rule2, lowess

    lcpm = log2_cpm(df, sample_col, count_col)
    if targets is not None and group_col is not None:
        # residual variance about group means (~0+group lmFit):
        # sum over groups of within-group SS, df = n - n_groups
        labeled = label_samples(lcpm, targets, sample_col, group_col)
        # within-group SS from var_samp (numerically stable centered
        # form — the raw-moment form s2 - s^2/n loses ~1e-9 relative
        # precision to cancellation); a single-observation group
        # contributes 0 (var_samp null -> coalesce)
        per_gg = labeled.groupBy(gene_col, group_col).agg(
            F.count(F.lit(1)).alias("n_i"),
            F.sum("lcpm").alias("s_i"),
            ((F.count(F.lit(1)) - 1) * F.coalesce(F.var_samp("lcpm"), F.lit(0.0))).alias(
                "ss_i"
            ),
        )
        per_gene = (
            per_gg.groupBy(gene_col)
            .agg(
                (F.sum("s_i") / F.sum("n_i")).alias("mean_lcpm"),
                F.sum("ss_i").alias("ss_resid"),
                F.sum("n_i").alias("n_obs"),
                F.count(F.lit(1)).alias("n_groups"),
            )
            .where(F.col("n_obs") > F.col("n_groups"))
            .withColumn(
                "sqrt_sd",
                # greatest(.., 0): a within-group SS that is a tiny
                # negative from fp cancellation must clamp to 0 (and
                # then be filtered), not NaN through sqrt
                F.sqrt(F.sqrt(
                    F.greatest(F.col("ss_resid"), F.lit(0.0))
                    / (F.col("n_obs") - F.col("n_groups"))
                )),
            )
            .select(gene_col, "mean_lcpm", "sqrt_sd", "n_obs")
        )
    else:
        per_gene = lcpm.groupBy(gene_col).agg(
            F.avg("lcpm").alias("mean_lcpm"),
            F.sqrt(F.sqrt(F.var_samp("lcpm"))).alias("sqrt_sd"),
            F.count(F.lit(1)).alias("n_obs"),
        )
    per_gene = per_gene.where(
        F.col("sqrt_sd").isNotNull() & (F.col("sqrt_sd") > 0)
    )

    gene_t = dict(per_gene.dtypes)[gene_col]
    out_schema = (
        f"{gene_col} {gene_t}, mean_lcpm double, sqrt_sd double, n_obs long, "
        "trend_sqrt_sd double, weight double"
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        sx = pdf["mean_lcpm"].to_numpy()
        sy = pdf["sqrt_sd"].to_numpy()
        xf, yf = lowess(sx, sy, f=f, iter=iter)
        trend = approx_rule2(sx, xf, yf)
        out = pdf[[gene_col, "mean_lcpm", "sqrt_sd", "n_obs"]].copy()
        out["trend_sqrt_sd"] = trend
        out["weight"] = trend ** -4.0
        return out

    # single group: the whole bounded per-gene relation in one Arrow
    # batch, exactly where R runs lowess (driver-equivalent, but kept
    # on an executor so nothing funnels through the driver process)
    return (
        per_gene.withColumn("_one", F.lit(1))
        .groupBy("_one")
        .applyInPandas(fit, schema=out_schema)
    )


def _natural_spline_basis(x, knots):
    """Natural cubic spline basis (truncated-power form, ESL eq. 5.4-5.5).

    Spans the same function space as R ``splines::ns`` with the same
    knots, so LEAST-SQUARES FITTED VALUES are identical to an R fit
    even though the basis parameterization differs."""
    import numpy as np

    x = np.asarray(x, dtype=float)
    knots = np.asarray(knots, dtype=float)
    K = len(knots)
    cols = [np.ones_like(x), x]
    if K >= 3:
        xi_K = knots[-1]
        xi_Km1 = knots[-2]

        def d(k):
            num = np.clip(x - knots[k], 0, None) ** 3 - np.clip(x - xi_K, 0, None) ** 3
            return num / (xi_K - knots[k])

        dKm1 = d(K - 2)
        for k in range(K - 2):
            cols.append(d(k) - dKm1)
    return np.column_stack(cols)


def cqn_spline(
    df: DataFrame,
    gene_col: str,
    sample_col: str,
    count_col: str,
    gene_attrs: DataFrame,
    gc_col: str,
    n_knots: int = 5,
    huber_k: float = 1.345,
    n_iter: int = 8,
) -> DataFrame:
    """M4 full fidelity — per-sample robust natural-spline regression
    of log2-CPM on GC content, the smooth systematic-effect fit of the
    cqn package (`GenExpressionComb_RNAseq.R:183-201`,
    ``cqn(counts, x = gc)``; Hansen/Irizarry/Wu 2012).  cqn fits
    per-sample splines by quantile regression; here the fit is Huber
    IRLS (robust mean regression) on the SAME natural-spline basis —
    knots at GC quantiles, boundary knots at min/max — and the fitted
    bias curve, centered at its own median, is subtracted:

        lcpm_cqn = lcpm - (fit(gc) - median(fit(gc)))

    Execution: one Arrow batch per SAMPLE (``applyInPandas`` grouped by
    sample — each group is one library's gene vector, the unit cqn
    itself fits); gene attrs attach by broadcast.  The per-sample
    median centering keeps each library's overall level, so libraries
    stay comparable after bias removal exactly as in cqn's offset
    formulation.
    """
    import numpy as np
    import pandas as pd

    lcpm = log2_cpm(df, sample_col, count_col)
    attrs = gene_attrs.select(gene_col, F.col(gc_col).cast("double").alias("_gc"))
    with_gc = lcpm.join(F.broadcast(attrs), gene_col)

    dts = dict(with_gc.dtypes)
    out_schema = (
        f"{gene_col} {dts[gene_col]}, {sample_col} {dts[sample_col]}, gc double, "
        "lcpm double, fit double, lcpm_cqn double"
    )

    def fit_sample(pdf: pd.DataFrame) -> pd.DataFrame:
        gc = pdf["_gc"].to_numpy()
        y = pdf["lcpm"].to_numpy()
        qs = np.linspace(0, 1, n_knots)
        knots = np.unique(np.quantile(gc, qs))
        X = _natural_spline_basis(gc, knots)
        w = np.ones(len(y))
        beta = np.zeros(X.shape[1])
        for _ in range(n_iter):
            WX = X * w[:, None]
            try:
                beta_new = np.linalg.solve(X.T @ WX, X.T @ (w * y))
            except np.linalg.LinAlgError:
                beta_new, *_ = np.linalg.lstsq(X.T @ WX, X.T @ (w * y), rcond=None)
            if np.max(np.abs(beta_new - beta)) < 1e-10:
                beta = beta_new
                break
            beta = beta_new
            r = y - X @ beta
            s = np.median(np.abs(r - np.median(r))) * 1.4826  # MAD sigma
            if s <= 0:
                break
            a = np.abs(r) / s
            w = np.where(a <= huber_k, 1.0, huber_k / np.maximum(a, 1e-300))
        fit = X @ beta
        bias = fit - np.median(fit)
        out = pd.DataFrame(
            {
                gene_col: pdf[gene_col].to_numpy(),
                sample_col: pdf[sample_col].to_numpy(),
                "gc": gc,
                "lcpm": y,
                "fit": fit,
                "lcpm_cqn": y - bias,
            }
        )
        return out

    return with_gc.groupBy(sample_col).applyInPandas(fit_sample, schema=out_schema)


def cqn_simplified(
    df: DataFrame,
    gene_col: str,
    sample_col: str,
    count_col: str,
    gene_attrs: DataFrame,
    gc_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Bias-removal CQN core: log2-CPM, then subtract the GC-bin median
    offset (bin median - global median).  ``gene_attrs``: (gene, gc)."""
    lcpm = log2_cpm(df, sample_col, count_col)
    w = Window.orderBy(F.col(gc_col).asc(), F.col(gene_col).asc())
    bins = gene_attrs.withColumn("gc_bin", F.ntile(n_bins).over(w)).select(gene_col, "gc_bin")
    with_bin = lcpm.join(F.broadcast(bins), gene_col)
    global_med = with_bin.agg(F.percentile("lcpm", F.lit(0.5)).alias("gmed"))
    bin_med = with_bin.groupBy("gc_bin").agg(
        F.percentile("lcpm", F.lit(0.5)).alias("bmed")
    )
    return (
        with_bin.join(F.broadcast(bin_med), "gc_bin")
        .crossJoin(F.broadcast(global_med))
        .withColumn("lcpm_cqn", F.col("lcpm") - (F.col("bmed") - F.col("gmed")))
        .select(gene_col, sample_col, "gc_bin", "lcpm", "lcpm_cqn")
    )


def array_weights(
    df: DataFrame, gene_col: str, sample_col: str, value_col: str
) -> DataFrame:
    """Per-sample quality weight: 1 / mean((x_gs - mean_g)^2),
    normalized so the mean weight is 1."""
    gm = df.groupBy(gene_col).agg(F.avg(value_col).alias("_gm"))
    resid = df.join(F.broadcast(gm), gene_col).withColumn(
        "_r2", (F.col(value_col) - F.col("_gm")) ** 2
    )
    per_sample = resid.groupBy(sample_col).agg(
        (F.sum("_r2") / F.count(F.lit(1))).alias("msr"),
        F.count(F.lit(1)).alias("n_obs"),
    ).where(F.col("msr") > 0)
    inv = per_sample.withColumn("raw_w", 1.0 / F.col("msr"))
    # normalize via a window over the PER-SAMPLE relation (bounded by
    # sample count) — the 1-row agg + crossJoin form re-executed the
    # residual pass as the probe side
    return (
        inv.withColumn("weight", F.col("raw_w") / F.avg("raw_w").over(Window.partitionBy()))
        .select(sample_col, "n_obs", "msr", "weight")
    )


def qc_sample_metrics(df: DataFrame, sample_col: str, value_col: str) -> DataFrame:
    """M18 summary: per-sample quartiles, IQR, mean, count — the data
    behind the reference's QC boxplots/density panels."""
    return df.groupBy(sample_col).agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.percentile(value_col, F.lit(0.25)).alias("q25"),
        F.percentile(value_col, F.lit(0.5)).alias("median"),
        F.percentile(value_col, F.lit(0.75)).alias("q75"),
        (
            F.percentile(value_col, F.lit(0.75)) - F.percentile(value_col, F.lit(0.25))
        ).alias("iqr"),
    )


def qc_rle_nuse(
    df: DataFrame,
    gene_col: str,
    sample_col: str,
    value_col: str,
    se_col: str | None = None,
) -> DataFrame:
    """M18 depth (r8) — the RLE / NUSE per-sample relative-deviation
    QC metrics of `QC_Affy_U133Plus2.R:133-134` (``aqm.rle`` /
    ``aqm.nuse``), as a metrics table:

    - RLE (relative log expression): per (gene, sample) deviation =
      value - median_over_samples(gene); per-sample median + IQR of
      the deviations (the ``aqm.rle`` boxplot data — a good array has
      RLE medians near 0 and small spread; ``outlierMethod = "KS"``
      runs on exactly these per-sample deviation sets).
    - NUSE (normalized unscaled standard error), when ``se_col`` is
      given: per (gene, sample) nse = se / median_over_samples(se);
      per-sample median + upper quartile (``aqm.nuse``'s
      ``outlierMethod = "upperquartile"`` statistic).

    Execution shape: ONE shuffle by gene (a window carrying both
    gene-wise medians), then one aggregate by sample — the same
    two-shuffle plan as quantile normalization, no gene-dim join and
    nothing collected.  Exact percentiles (linear interpolation),
    matching DuckDB ``quantile_cont`` bit-for-bit on shared inputs.
    """
    w_g = Window.partitionBy(gene_col)
    dev = df.withColumn(
        "_rle", F.col(value_col) - F.percentile(value_col, F.lit(0.5)).over(w_g)
    )
    aggs = [
        F.count(F.lit(1)).alias("n_obs"),
        F.percentile("_rle", F.lit(0.5)).alias("rle_median"),
        (
            F.percentile("_rle", F.lit(0.75)) - F.percentile("_rle", F.lit(0.25))
        ).alias("rle_iqr"),
    ]
    if se_col is not None:
        # a zero gene-median SE leaves the ratio undefined (NULL), not
        # an ANSI divide-by-zero crash
        se_med = F.percentile(se_col, F.lit(0.5)).over(w_g)
        dev = dev.withColumn(
            "_nse", F.when(se_med != 0, F.col(se_col) / se_med)
        )
        aggs += [
            F.percentile("_nse", F.lit(0.5)).alias("nuse_median"),
            F.percentile("_nse", F.lit(0.75)).alias("nuse_q75"),
        ]
    return dev.groupBy(sample_col).agg(*aggs)


def rna_degradation(
    df: DataFrame,
    sample_col: str,
    position_col: str,
    value_col: str,
    positions: list[int] | None = None,
    exact_scale: int | None = None,
) -> DataFrame:
    """M18 depth (r8) — the AffyRNAdeg 5'->3' RNA-degradation QC
    slope (`QC_Affy_U133Plus2.R:143-145`, also U133A/U133A2/U95Av2):
    per (sample, probe position) mean intensity, then the per-sample
    OLS slope of mean-by-position — a degraded RNA sample shows a
    steep positive 5'->3' trend; the reference plots
    ``plotAffyRNAdeg`` and reads samples off the slope ranking.

    Exactness discipline: probe positions on an array design are a
    FIXED small set, so the per-position means become conditional
    aggregates (one per position) in ONE aggregation pass, and the
    slope/intercept are explicit literal-coefficient expressions of
    those means — no second-level floating sum whose accumulation
    order could differ between engines or runs (the qc_rle lesson:
    deterministic expression trees, not order-sensitive folds).
    ``exact_scale`` routes the per-position sums through decimal
    accumulation (the suite's decimal-exact moment scheme).

    When ``positions`` is None it is inferred with one bounded
    distinct-collect (a probe-position dim is <= dozens of values —
    the documented bounded-dim collect class).

    Output: one row per sample with all positions present —
    ``slope``, ``intercept``, ``t_statistic`` (slope / its OLS
    standard error), plus the per-position means kept as ``mean_<p>``
    columns (the plotAffyRNAdeg data surface).
    """
    if positions is None:
        positions = sorted(
            r[0] for r in df.select(position_col).distinct().collect()
        )
    n = len(positions)
    if n < 3:
        raise ValueError("rna_degradation needs >= 3 probe positions")
    sx = float(sum(positions))
    sx2 = float(sum(p * p for p in positions))
    denom = n * sx2 - sx * sx

    def _mean(p: int):
        v = F.when(F.col(position_col) == p, F.col(value_col))
        if exact_scale is not None:
            s = dsum(v, exact_scale)
        else:
            s = F.sum(v)
        # ANSI mode: a sample missing this position must yield NULL,
        # not a divide-by-zero (such samples are filtered just below)
        cnt = F.count(v)
        return F.when(cnt > 0, s / cnt).alias(f"mean_{p}")

    per = df.groupBy(sample_col).agg(
        *[_mean(p) for p in positions],
        F.countDistinct(position_col).alias("_np"),
    )
    per = per.where(F.col("_np") == n).drop("_np")
    ys = [F.col(f"mean_{p}") for p in positions]
    sy = ys[0]
    sxy = F.lit(float(positions[0])) * ys[0]
    for p, y in zip(positions[1:], ys[1:]):
        sy = sy + y
        sxy = sxy + F.lit(float(p)) * y
    slope = (F.lit(float(n)) * sxy - F.lit(sx) * sy) / F.lit(denom)
    intercept = (sy - slope * F.lit(sx)) / F.lit(float(n))
    out = per.withColumn("slope", slope).withColumn("intercept", intercept)
    # OLS slope SE from the residual sum of squares over the n fixed
    # positions — again an explicit expression tree over mean_<p>
    rss = None
    for p in positions:
        r = F.col(f"mean_{p}") - (F.col("intercept") + F.col("slope") * F.lit(float(p)))
        rss = r * r if rss is None else rss + r * r
    sxx = F.lit(denom / n)  # = sum((x - xbar)^2)
    se = F.sqrt(rss / F.lit(float(n - 2)) / sxx)
    # a perfect linear fit has rss = 0 -> se = 0: the t statistic is
    # undefined (NULL), not a divide-by-zero
    return out.withColumn(
        "t_statistic", F.when(se > 0, F.col("slope") / se)
    )
