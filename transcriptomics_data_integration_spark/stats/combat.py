"""ComBat empirical-Bayes batch correction (SURVEY.md M6), after
Johnson, Li & Rabinovic 2007 (public algorithm; the reference drives it
via sva at `scripts/data_integration/DiffExpression_closedPlatform.R:368-437`
with a numerically-stabilized nonparametric prior `:108-156`).

Spark decomposition (the 100 TB shape):

1. **Standardization** — per-(gene, batch) and per-gene moments are two
   hash aggregations over the raw rows (partial+final, one shuffle on
   gene); grand mean is the n_i-weighted batch-mean average and
   var_pooled the per-gene mean squared residual, exactly as sva.
2. **EB priors + iterative solve** — operates on the per-(gene, batch)
   moment table (|genes| x |batches| rows, tiny next to the data).
   Runs per batch in ``applyInPandas`` (vectorized numpy; the sva
   ``it.sol`` fixed-point: gamma* posterior-mean update, delta*
   inverse-gamma update, to tolerance).  No raw data touches Python.
3. **Adjustment** — broadcast-join gamma*/delta* back and apply the
   closed-form correction; pure column math.

Confounding guard: like the reference's check (`:390-418`), refuse a
batch that is perfectly confounded with the biological group.
"""

from __future__ import annotations


import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from transcriptomics_data_integration_spark.functions.exact import dec, dprod

EB_SCHEMA = (
    "gene_id string, batch string, gamma_star double, delta_star double"
)


def check_confounding(df: DataFrame, batch_col: str, group_col: str) -> bool:
    """True if every batch contains more than one biological group
    (reference confound check, `DiffExpression_closedPlatform.R:390-418`),
    from one driver job."""
    per_batch = df.groupBy(batch_col).agg(F.countDistinct(group_col).alias("n"))
    return all(r["n"] >= 2 for r in per_batch.collect())


def _eb_solver(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-batch parametric EB fixed point (sva's it.sol), vectorized
    over genes.  Input columns: gene_id, batch, n, g_hat (per-batch
    standardized mean), d_hat (per-batch standardized sample var),
    s_sum, s_sum2 (standardized sums for the sum2 update)."""
    import numpy as np

    g_hat = pdf["g_hat"].to_numpy()
    d_hat = pdf["d_hat"].to_numpy()
    n = pdf["n"].to_numpy().astype(float)
    s_sum = pdf["s_sum"].to_numpy()
    s_sum2 = pdf["s_sum2"].to_numpy()

    gamma_bar = g_hat.mean()
    t2 = g_hat.var(ddof=1) if len(g_hat) > 1 else 1.0
    m = d_hat.mean()
    v = d_hat.var(ddof=1) if len(d_hat) > 1 else 1.0
    # inverse-gamma method-of-moments priors (sva aprior/bprior)
    aprior = (2.0 * v + m * m) / v if v > 0 else 2.0
    bprior = (m * v + m**3) / v if v > 0 else m

    g_new = g_hat.copy()
    d_new = d_hat.copy()
    for _ in range(100):
        g_old, d_old = g_new, d_new
        g_new = (n * t2 * g_hat + d_old * gamma_bar) / (n * t2 + d_old)
        # sum2 = sum_j (s_j - gamma)^2 = s_sum2 - 2 gamma s_sum + n gamma^2
        sum2 = s_sum2 - 2.0 * g_new * s_sum + n * g_new * g_new
        d_new = (0.5 * sum2 + bprior) / (n / 2.0 + aprior - 1.0)
        if max(
            float(abs(g_new - g_old).max() / (abs(g_old).max() + 1e-12)),
            float(abs(d_new - d_old).max() / (abs(d_old).max() + 1e-12)),
        ) < 1e-8:
            break
    return pd.DataFrame(
        {
            "gene_id": pdf["gene_id"],
            "batch": pdf["batch"],
            "gamma_star": g_new,
            "delta_star": d_new,
        }
    )


def _eb_solver_nonparametric(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-batch NONPARAMETRIC EB posterior — the reference's patched
    ``int.eprior`` (`DiffExpression_closedPlatform.R:108-156`, injected
    into the sva namespace at `:169`): for each gene, the posterior
    (gamma*, delta*) is the likelihood-weighted mean of every OTHER
    gene's (g_hat, d_hat), with the log-sum-exp max-shift the reference
    added for numerical stability (`:135-147`).

    The per-gene Gaussian log-likelihood needs only this gene's
    standardized moments:  sum_k (x_k - g_j)^2
    = s_sum2 - 2 g_j s_sum + n g_j^2, so the whole batch solves as a
    G x G matrix — evaluated in row blocks to bound memory (a 10k-gene
    post-F5 batch is 100M doubles unblocked).
    """
    import numpy as np

    g_hat = pdf["g_hat"].to_numpy()
    d_hat = pdf["d_hat"].to_numpy()
    n = pdf["n"].to_numpy().astype(float)
    s_sum = pdf["s_sum"].to_numpy()
    s_sum2 = pdf["s_sum2"].to_numpy()
    G = len(g_hat)
    if G < 2:
        return pd.DataFrame(
            {
                "gene_id": pdf["gene_id"],
                "batch": pdf["batch"],
                "gamma_star": g_hat,
                "delta_star": d_hat,
            }
        )
    log_norm = -0.5 * np.log(2.0 * np.pi * d_hat)  # per candidate j
    g_star = np.empty(G)
    d_star = np.empty(G)
    block = 1024
    for lo in range(0, G, block):
        hi = min(lo + block, G)
        # ss[i, j] = sum_k (x_ik - g_j)^2 from moments
        ss = (
            s_sum2[lo:hi, None]
            - 2.0 * s_sum[lo:hi, None] * g_hat[None, :]
            + n[lo:hi, None] * g_hat[None, :] ** 2
        )
        ll = n[lo:hi, None] * log_norm[None, :] - ss / (2.0 * d_hat[None, :])
        idx = np.arange(lo, hi)
        ll[idx - lo, idx] = -np.inf  # leave-one-out: drop gene i itself
        m = ll.max(axis=1, keepdims=True)
        w = np.exp(ll - m)
        denom = w.sum(axis=1)
        g_star[lo:hi] = (w @ g_hat) / denom
        d_star[lo:hi] = (w @ d_hat) / denom
    return pd.DataFrame(
        {
            "gene_id": pdf["gene_id"],
            "batch": pdf["batch"],
            "gamma_star": g_star,
            "delta_star": d_star,
        }
    )


def combat(
    df: DataFrame,
    gene_col: str,
    sample_col: str,
    batch_col: str,
    value_col: str,
    prior: str = "parametric",
) -> DataFrame:
    """EB batch correction of a long expression relation.  Returns the
    input columns with ``value_col`` replaced by the adjusted value.
    ``prior``: "parametric" (sva default, iterative fixed point) or
    "nonparametric" (the reference's log-sum-exp ``int.eprior``).
    """
    g, b, v = F.col(gene_col), F.col(batch_col), F.col(value_col)

    # --- step 1: moments (two shuffles on gene, map-side combined) ---
    per_gb = df.groupBy(gene_col, batch_col).agg(
        F.count(v).alias("n_gb"), F.avg(v).alias("mean_gb")
    )
    per_g = (
        per_gb.groupBy(gene_col)
        .agg(
            F.sum(F.col("n_gb") * F.col("mean_gb")).alias("_wsum"),
            F.sum("n_gb").alias("n_g"),
        )
        .withColumn("grand_mean", F.col("_wsum") / F.col("n_g"))
        .drop("_wsum")
    )
    with_fit = (
        df.join(F.broadcast(per_gb), [gene_col, batch_col])
        .join(F.broadcast(per_g), gene_col)
    )
    var_pooled = (
        with_fit.groupBy(gene_col)
        .agg(
            (F.sum((v - F.col("mean_gb")) ** 2) / F.first("n_g")).alias("var_pooled")
        )
        .where(F.col("var_pooled") > 0)
    )

    # --- step 2: standardized moments per (gene, batch) ---
    std = (
        with_fit.join(F.broadcast(var_pooled), gene_col)
        .withColumn("s", (v - F.col("grand_mean")) / F.sqrt(F.col("var_pooled")))
    )
    s_moments = std.groupBy(gene_col, batch_col).agg(
        F.count("s").alias("n"),
        F.avg("s").alias("g_hat"),
        F.var_samp("s").alias("d_hat"),
        F.sum("s").alias("s_sum"),
        F.sum(F.col("s") * F.col("s")).alias("s_sum2"),
    ).where(F.col("d_hat").isNotNull() & (F.col("d_hat") > 0))

    eb_in = s_moments.select(
        F.col(gene_col).cast("string").alias("gene_id"),
        F.col(batch_col).cast("string").alias("batch"),
        "n",
        "g_hat",
        "d_hat",
        "s_sum",
        "s_sum2",
    )
    solver = _eb_solver if prior == "parametric" else _eb_solver_nonparametric
    eb = eb_in.groupBy("batch").applyInPandas(solver, schema=EB_SCHEMA)

    # --- step 3: adjust ---
    adjusted = (
        std.join(
            F.broadcast(
                eb.select(
                    F.col("gene_id").alias("_g"),
                    F.col("batch").alias("_b"),
                    "gamma_star",
                    "delta_star",
                )
            ),
            (g.cast("string") == F.col("_g")) & (b.cast("string") == F.col("_b")),
        )
        .withColumn(
            value_col,
            (F.col("s") - F.col("gamma_star"))
            / F.sqrt(F.col("delta_star"))
            * F.sqrt(F.col("var_pooled"))
            + F.col("grand_mean"),
        )
    )
    return adjusted.select(gene_col, sample_col, batch_col, value_col)


def combat_eb_fixed(
    df: DataFrame,
    gene_col: str,
    sample_col: str,
    batch_col: str,
    value_col: str,
    n_iter: int = 2,
    exact_scale: int = 2,
) -> DataFrame:
    """Parametric-EB ComBat with a FIXED iteration schedule, fully
    relational and hash-gateable — the oracle-checkable twin of
    :func:`combat` (whose sva-style solver iterates to convergence in
    an Arrow kernel and stays rows-only as ``combat_full``).

    Same algebra as ``_eb_solver``, made engine-exact:

    - every fact moment (per gene x batch n, sum, sum-of-squares)
      accumulates in DECIMAL;
    - the standardized-moment identities (s_sum = (sx - n*gm)/sqrt(vp)
      etc.) turn the standardization into per-row IEEE arithmetic on
      exact inputs — no sum over irrational values ever happens;
    - the only cross-gene reductions (pooled-variance batch terms and
      the EB priors gamma_bar/t2/aprior/bprior) aggregate TIE-FREE
      QUANTIZED ticks (floor(x*10^q + 0.5), an integer-valued double)
      in DECIMAL, so they are order-independent too;
    - the ``n_iter`` fixed-point steps are plain column arithmetic,
      unrolled into the plan (and into the oracle's CTE chain).

    Two fact passes (moments, adjust).  Between them one window chain
    runs over the bounded per-(gene, batch) relation: per-gene windows
    give the grand mean and pooled variance, per-batch windows the EB
    priors, and the fixed point reads the same rows, so nothing is
    cached or joined back.  Output: the adjusted long relation (gene,
    sample, batch, value).
    """
    s = exact_scale
    by_gene, by_batch = Window.partitionBy(gene_col), Window.partitionBy(batch_col)
    gb = df.groupBy(gene_col, batch_col).agg(
        F.count(value_col).alias("n_gb"),
        F.sum(dec(value_col, s)).alias("_sx_d"),
        F.sum(dprod(value_col, value_col, s, s)).alias("_sx2_d"),
    )
    sx, sx2, n_gb = F.col("sx"), F.col("sx2"), F.col("n_gb")
    # pooled variance: per-batch centered-SS terms, tick-quantized
    # (scale 4) so the cross-batch sum is order-independent
    vp_tick = F.floor((sx2 - sx * sx / n_gb) * 1e4 + F.lit(0.5)).cast("decimal(38,0)")
    n_g = F.sum("n_gb").over(by_gene)
    gb = gb.select(
        gene_col,
        batch_col,
        "n_gb",
        F.col("_sx_d").cast("double").alias("sx"),
        F.col("_sx2_d").cast("double").alias("sx2"),
        (F.sum("_sx_d").over(by_gene).cast("double") / n_g).alias("gm"),
        n_g.alias("n_g"),
    )
    gm, vp = F.col("gm"), F.col("vp")
    stats = (
        gb.withColumn("vp", F.sum(vp_tick).over(by_gene).cast("double") / 1e4 / F.col("n_g"))
        .where(vp > 0)
        # a (gene, batch) cell with one sample has no within-batch
        # variance — the Arrow solver drops it via var_samp -> NULL;
        # drop it BEFORE the d_hat division (ANSI errors on /0)
        .where(n_gb >= 2)
        # standardized per-(gene, batch) moments from exact identities
        .withColumn("s_sum", (sx - n_gb * gm) / F.sqrt(vp))
        .withColumn("s_sum2", (sx2 - 2.0 * gm * sx + n_gb * gm * gm) / vp)
        .withColumn("g_hat", F.col("s_sum") / n_gb)
        .withColumn(
            "d_hat",
            (F.col("s_sum2") - F.col("s_sum") * F.col("s_sum") / n_gb) / (n_gb - 1),
        )
        .where(F.col("d_hat") > 0)
    )
    # quantize to ticks so the per-batch prior sums are exact decimal
    # sums (scale 6: standardized stats are O(1-100))
    gq = F.floor(F.col("g_hat") * 1e6 + F.lit(0.5)).cast("decimal(18,0)")
    dq = F.floor(F.col("d_hat") * 1e6 + F.lit(0.5)).cast("decimal(18,0)")
    stats = stats.select(
        "*",
        F.count(F.lit(1)).over(by_batch).alias("_G"),
        F.sum(gq).over(by_batch).cast("double").alias("_sg"),
        F.sum((gq * gq).cast("decimal(38,0)")).over(by_batch).cast("double").alias("_sg2"),
        F.sum(dq).over(by_batch).cast("double").alias("_sd"),
        F.sum((dq * dq).cast("decimal(38,0)")).over(by_batch).cast("double").alias("_sd2"),
    )
    gbar = F.col("_sg") / F.col("_G") / 1e6
    t2 = (
        (F.col("_sg2") - F.col("_sg") * F.col("_sg") / F.col("_G"))
        / (F.col("_G") - 1)
        / 1e12
    )
    mprior = F.col("_sd") / F.col("_G") / 1e6
    vprior = (
        (F.col("_sd2") - F.col("_sd") * F.col("_sd") / F.col("_G"))
        / (F.col("_G") - 1)
        / 1e12
    )
    it = (
        stats.withColumn("gbar", gbar)
        .withColumn("t2", F.when(F.col("_G") > 1, t2).otherwise(F.lit(1.0)))
        .withColumn("_m", mprior)
        .withColumn("_v", F.when(F.col("_G") > 1, vprior).otherwise(F.lit(1.0)))
        .withColumn(
            "aprior",
            F.when(
                F.col("_v") > 0,
                (2.0 * F.col("_v") + F.col("_m") * F.col("_m")) / F.col("_v"),
            ).otherwise(F.lit(2.0)),
        )
        .withColumn(
            "bprior",
            F.when(
                F.col("_v") > 0,
                # m*m*m, not pow(m, 3): libm pow can differ by an ulp
                (F.col("_m") * F.col("_v") + F.col("_m") * F.col("_m") * F.col("_m"))
                / F.col("_v"),
            ).otherwise(F.col("_m")),
        )
        .withColumn("d_cur", F.col("d_hat"))
    )
    n = F.col("n_gb").cast("double")
    for _ in range(n_iter):
        g_new = (n * F.col("t2") * F.col("g_hat") + F.col("d_cur") * F.col("gbar")) / (
            n * F.col("t2") + F.col("d_cur")
        )
        it = it.withColumn("g_cur", g_new)
        sum2 = (
            F.col("s_sum2")
            - 2.0 * F.col("g_cur") * F.col("s_sum")
            + n * F.col("g_cur") * F.col("g_cur")
        )
        it = it.withColumn(
            "d_cur",
            (0.5 * sum2 + F.col("bprior")) / (n / 2.0 + F.col("aprior") - 1.0),
        )
    eb = it.select(
        gene_col, batch_col, "gm", "vp",
        F.col("g_cur").alias("gamma_star"),
        F.col("d_cur").alias("delta_star"),
    )
    return (
        df.join(eb, [gene_col, batch_col])
        .withColumn(
            value_col,
            (
                (F.col(value_col) - F.col("gm")) / F.sqrt("vp")
                - F.col("gamma_star")
            )
            / F.sqrt("delta_star")
            * F.sqrt("vp")
            + F.col("gm"),
        )
        .select(gene_col, sample_col, batch_col, value_col)
    )


def batch_mean_center(
    df: DataFrame,
    gene_col: str,
    batch_col: str,
    value_col: str,
    exact_scale: int | None = None,
) -> DataFrame:
    """Location-only batch adjustment (the closed-form core of ComBat
    without EB scale moderation): x - batch_mean_g + grand_mean_g with
    the n-weighted grand mean.  Both means skip null cells.  With
    ``exact_scale`` the sums accumulate in DECIMAL, so the adjusted
    value is the same double in every engine.  Pure SQL;
    oracle-checkable.

    One fact aggregation per (gene, batch); the per-gene totals are
    windows over that bounded relation (decimal sums are associative,
    so with ``exact_scale`` they equal a direct fact aggregation), and
    it joins back to the facts once.
    """
    v = F.col(value_col) if exact_scale is None else dec(value_col, exact_scale)
    w = Window.partitionBy(gene_col)
    per_gb = (
        df.groupBy(gene_col, batch_col)
        .agg(F.sum(v).alias("_s_gb"), F.count(value_col).alias("_n_gb"))
        .select(
            gene_col,
            batch_col,
            (F.col("_s_gb").cast("double") / F.col("_n_gb")).alias("_m_gb"),
            (
                F.sum("_s_gb").over(w).cast("double") / F.sum("_n_gb").over(w)
            ).alias("_m_g"),
        )
    )
    return (
        df.join(per_gb, [gene_col, batch_col])
        .withColumn(value_col, F.col(value_col) - F.col("_m_gb") + F.col("_m_g"))
        .drop("_m_gb", "_m_g")
    )
