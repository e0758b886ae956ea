"""MLlib-backed diagnostics kernels (SURVEY.md M11-M14, M16, M17).

These are the reference's exploratory/QC models; results are
model-fit outputs (eigenvectors, cluster labels) with inherent sign /
label indeterminacy, so they carry pytest golden/property tests rather
than SQL oracles (the driver records the weaker rows-only check —
SURVEY.md section 5).

Pipeline shape shared by all: long relation -> per-sample feature
vector (pivot over an explicit, sorted gene list — no collect job) ->
``ml.feature``/``ml.clustering``/``ml.classification`` estimator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from transcriptomics_data_integration_spark.functions.exact import (
    corr_from_moments,
    dec,
    dprod,
    dsum,
    dsum2,
    dsumprod,
)


def sample_vectors(
    df: DataFrame,
    gene_col: str,
    sample_col: str,
    value_col: str,
    genes: list[str],
) -> DataFrame:
    """One row per sample with a dense feature vector over ``genes``
    (explicit order; missing values 0).  The pivot is bounded: the gene
    list comes from the F5 top-variance filter."""
    from pyspark.ml.feature import VectorAssembler

    wide = (
        df.where(F.col(gene_col).isin(genes))
        .groupBy(sample_col)
        .pivot(gene_col, genes)
        .agg(F.first(value_col))
        .na.fill(0.0)
    )
    assembler = VectorAssembler(
        inputCols=[c for c in wide.columns if c != sample_col], outputCol="features"
    )
    return assembler.transform(wide).select(sample_col, "features")


def pca_embedding(
    vectors: DataFrame, sample_col: str, k: int = 3, standardize: bool = True
) -> tuple[DataFrame, list[float]]:
    """M11 — PCA of per-sample vectors (``prcomp(t(data), scale=TRUE)``,
    `Study_effect.R:543`).  Returns (sample, pc array) and the explained
    variance ratios (scree data, `:549-566`)."""
    from pyspark.ml.feature import PCA, StandardScaler

    feats = vectors
    col = "features"
    if standardize:
        scaler = StandardScaler(
            inputCol="features", outputCol="scaled", withMean=True, withStd=True
        ).fit(vectors)
        feats = scaler.transform(vectors)
        col = "scaled"
    model = PCA(k=k, inputCol=col, outputCol="pcs").fit(feats)
    out = model.transform(feats).select(
        sample_col, vector_to_array_col("pcs").alias("pcs")
    )
    return out, [float(v) for v in model.explainedVariance]


def vector_to_array_col(col_name: str):
    from pyspark.ml.functions import vector_to_array

    return vector_to_array(F.col(col_name))


def kmeans_clusters(
    vectors: DataFrame, sample_col: str, k: int, seed: int = 1
) -> DataFrame:
    """M12 — k-means on sample vectors (``kmeans``/``cmdscale`` stage,
    `Study_effect.R:508-531`; seeded like ``set.seed(1)``
    `Study_effect.R:464`)."""
    from pyspark.ml.clustering import KMeans

    model = KMeans(k=k, seed=seed, featuresCol="features").fit(vectors)
    return model.transform(vectors).select(sample_col, F.col("prediction").alias("cluster"))


def bisecting_clusters(vectors: DataFrame, sample_col: str, k: int, seed: int = 1) -> DataFrame:
    """M13 substitute — divisive hierarchical clustering (BisectingKMeans),
    the idiomatic Spark stand-in for Ward hclust
    (`DiffExpression_closedPlatform.R:645-646`)."""
    from pyspark.ml.clustering import BisectingKMeans

    model = BisectingKMeans(k=k, seed=seed, featuresCol="features").fit(vectors)
    return model.transform(vectors).select(sample_col, F.col("prediction").alias("cluster"))


def logistic_per_gene(
    df: DataFrame,
    gene_col: str,
    group_col: str,
    value_col: str,
    group_one: str,
) -> DataFrame:
    """M14 — per-gene logistic regression of outcome on expression
    (``modelOutcome(method="logistic")``, `Meta_analysis.R:581-598`).
    Grouped-map IRLS via Arrow batches — one model per gene, no driver
    loop."""
    import numpy as np
    import pandas as pd

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf["x"].to_numpy()
        y = (pdf["y"] == group_one).to_numpy().astype(float)
        X = np.column_stack([np.ones_like(x), x])
        beta = np.zeros(2)
        for _ in range(25):
            eta = X @ beta
            mu = 1.0 / (1.0 + np.exp(-np.clip(eta, -30, 30)))
            w = np.clip(mu * (1 - mu), 1e-9, None)
            z = eta + (y - mu) / w
            wx = X * w[:, None]
            try:
                beta_new = np.linalg.solve(X.T @ wx, X.T @ (w * z))
            except np.linalg.LinAlgError:
                break
            if np.max(np.abs(beta_new - beta)) < 1e-10:
                beta = beta_new
                break
            beta = beta_new
        se = np.sqrt(np.diag(np.linalg.pinv(X.T @ (X * np.clip(mu * (1 - mu), 1e-9, None)[:, None]))))
        return pd.DataFrame(
            {
                "gene_id": [pdf["g"].iloc[0]],
                "intercept": [beta[0]],
                "coef": [beta[1]],
                "z_score": [beta[1] / se[1] if se[1] > 0 else float("nan")],
                "n": [len(x)],
            }
        )

    prepped = df.select(
        F.col(gene_col).cast("string").alias("g"),
        F.col(value_col).alias("x"),
        F.col(group_col).alias("y"),
    )
    return prepped.groupBy("g").applyInPandas(
        fit, schema="gene_id string, intercept double, coef double, z_score double, n long"
    )


def logistic_per_gene_fixed(
    df: DataFrame,
    gene_col: str,
    group_col: str,
    value_col: str,
    group_one: str,
    n_iter: int = 2,
) -> DataFrame:
    """M14, fixed-iteration form — per-gene logistic IRLS run for
    EXACTLY ``n_iter`` Newton steps from beta = 0 on a CENTERED
    predictor (`Meta_analysis.R:581-598`, ``modelOutcome``).

    Unlike the adaptive ``logistic_per_gene``, every arithmetic step
    here is a closed-form moment expression (Cramer solve of the 2x2
    weighted normal equations — no LAPACK), so the whole computation
    is SQL-expressible and the suite gates it against a DuckDB oracle
    (`logistic_irls2`).  Centering makes the normal equations
    well-conditioned (s1 ~ 0), which is what keeps the two engines'
    floating-point within round-off of each other; the slope is
    centering-invariant, and the reported intercept is the log-odds AT
    the gene's mean expression.
    """
    import numpy as np
    import pandas as pd

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf["x"].to_numpy(dtype=float)
        y = (pdf["y"] == group_one).to_numpy().astype(float)
        xc = x - x.mean()
        b0 = b1 = 0.0
        ok = True
        for it in range(n_iter):
            if it == 0:
                w = np.full_like(xc, 0.25)
                z = 4.0 * (y - 0.5)
            else:
                eta = b0 + b1 * xc
                mu = 1.0 / (1.0 + np.exp(-np.clip(eta, -30, 30)))
                w = np.maximum(mu * (1.0 - mu), 1e-9)
                z = eta + (y - mu) / w
            s0 = float(np.sum(w))
            s1 = float(np.sum(w * xc))
            s2 = float(np.sum(w * xc * xc))
            t0 = float(np.sum(w * z))
            t1 = float(np.sum(w * xc * z))
            det = s0 * s2 - s1 * s1
            if det <= 0:
                ok = False
                break
            b0 = (s2 * t0 - s1 * t1) / det
            b1 = (s0 * t1 - s1 * t0) / det
        return pd.DataFrame(
            {
                "gene_id": [pdf["g"].iloc[0]],
                "n": [len(x)],
                "intercept_at_mean": [b0 if ok else float("nan")],
                "coef": [b1 if ok else float("nan")],
            }
        )

    prepped = df.select(
        F.col(gene_col).cast("string").alias("g"),
        F.col(value_col).cast("double").alias("x"),
        F.col(group_col).alias("y"),
    )
    out = prepped.groupBy("g").applyInPandas(
        fit, schema="gene_id string, n long, intercept_at_mean double, coef double"
    )
    return out.where(~F.isnan("coef"))


def impute_missing(
    df: DataFrame,
    value_col: str,
    strategy: str = "mean",
    exact_scale: int | None = None,
) -> DataFrame:
    """M16 — missing-value imputation (Amelia EM at
    `DiffExpression_normalisedData.R:166`; v0 mean/median per the
    SURVEY.md build plan) applied per gene.  ``exact_scale`` switches
    the mean to the decimal-exact sum/count form (order-independent,
    oracle-reproducible — functions/exact.py)."""
    if strategy == "mean" and exact_scale is not None:
        fill = dsum(value_col, exact_scale) / F.count(value_col)
    elif strategy == "mean":
        fill = F.avg(value_col)
    else:
        fill = F.percentile_approx(value_col, 0.5)
    per_gene = (
        df.groupBy("gene_id")
        .agg(fill.alias("_fill"), F.count(value_col).alias("_nobs"))
        # genes with zero observed cells have no mean (and 0/0 is an
        # ANSI error) — they keep their nulls via the inner join's drop
        .where(F.col("_nobs") > 0)
        .drop("_nobs")
    )
    return (
        df.join(F.broadcast(per_gene), "gene_id")
        .withColumn(value_col, F.coalesce(F.col(value_col), F.col("_fill")))
        .drop("_fill")
    )


def impute_missing_em(
    df: DataFrame,
    gene_col: str,
    sample_col: str,
    value_col: str,
    max_iter: int = 10,
    tol: float = 1e-8,
) -> DataFrame:
    """M16 full fidelity path — iterative EM imputation under the
    two-way additive model ``x_gs = mu + a_g + b_s`` (the structured
    stand-in for Amelia's EM at `DiffExpression_normalisedData.R:166`;
    Amelia's full multivariate-normal covariance is infeasible at a
    60k-gene width — the additive gene+sample model is the standard
    scalable reduction, cf. median polish M2).

    E-step: fill each missing cell with the current ``mu + a_g + b_s``.
    M-step: refit ``mu`` (grand mean), ``a_g`` (gene effects) and
    ``b_s`` (sample effects) on the COMPLETED matrix.  Repeat until the
    sample-effect vector moves less than ``tol`` (sup-norm) or
    ``max_iter``.

    With zero sample effects the first fill is exactly the per-gene
    observed mean — i.e. one iteration degenerates to ``impute_missing``
    (mean strategy), the property the tests pin.

    Scale: the missing-cell relation is materialized ONCE (size =
    missing fraction x matrix, not the dense grid); every iteration is
    plain joins + aggregates — gene effects stay distributed
    (broadcast-joined only per gene row), sample effects are an S-row
    broadcast, and the only driver-side values are ``mu`` and the
    convergence scalar (same pattern as connected components'
    per-round fixpoint check).  Lineage is truncated per iteration via
    localCheckpoint.
    """
    spark = df.sparkSession
    g, s, v = gene_col, sample_col, value_col
    observed = df.where(F.col(v).isNotNull()).select(g, s, F.col(v).cast("double").alias("x"))
    observed = observed.localCheckpoint(eager=True)

    # missing cells: dense gene x sample grid minus observed (anti join)
    genes = observed.select(g).distinct()
    samples = observed.select(s).distinct()
    missing = (
        genes.crossJoin(F.broadcast(samples))
        .join(observed.select(g, s), [g, s], "left_anti")
        .localCheckpoint(eager=True)
    )

    # init from observed: mu, gene effects, sample effects
    mu = observed.agg(F.avg("x")).collect()[0][0]
    if mu is None:
        return df
    a = observed.groupBy(g).agg((F.avg("x") - F.lit(mu)).alias("a"))
    # gene effects join by the gene key (no broadcast: the gene
    # dimension is unbounded; AQE still picks BHJ when it is small)
    b = observed.join(a, g).groupBy(s).agg(
        (F.avg(F.col("x") - F.lit(mu) - F.col("a"))).alias("b")
    )

    prev_fill = None
    for _ in range(max_iter):
        fill = (
            missing.join(a, g)
            .join(F.broadcast(b), s)
            .select(g, s, (F.lit(mu) + F.col("a") + F.col("b")).alias("x"))
            .localCheckpoint(eager=True)
        )
        # convergence on the FILL VALUES themselves (sup-norm): the
        # individual effects can shuffle mass between mu/a/b without
        # the fills moving, and vice versa — the fills are what the
        # caller receives, so they define the fixpoint
        if prev_fill is not None:
            delta_row = (
                fill.join(prev_fill.withColumnRenamed("x", "_xp"), [g, s])
                .agg(F.max(F.abs(F.col("x") - F.col("_xp"))))
                .collect()[0][0]
            )
            if delta_row is not None and delta_row < tol:
                break
        prev_fill = fill
        completed = observed.unionByName(fill).localCheckpoint(eager=True)
        mu = completed.agg(F.avg("x")).collect()[0][0]
        a = completed.groupBy(g).agg((F.avg("x") - F.lit(mu)).alias("a"))
        b = completed.join(a, g).groupBy(s).agg(
            (F.avg(F.col("x") - F.lit(mu) - F.col("a"))).alias("b")
        )

    final_fill = (
        missing.join(a, g)
        .join(F.broadcast(b), s)
        .select(g, s, (F.lit(mu) + F.col("a") + F.col("b")).alias("x"))
    )
    out = observed.unionByName(final_fill).withColumnRenamed("x", v)
    return out


def feature_covariance(
    long_df: DataFrame,
    gene_col: str,
    sample_col: str,
    value_col: str,
    standardize: bool = True,
    exact_scale: int | None = None,
) -> DataFrame:
    """M11's DISTRIBUTED phase — the G x G feature matrix PCA
    eigendecomposes (`prcomp(t(data), scale=TRUE)`, `Study_effect.R:543`):
    gene-gene Pearson correlation when ``standardize`` (prcomp
    scale=TRUE), sample covariance otherwise.  One self-join on the
    sample key + one moment aggregation; G is bounded by the F5 top-k
    contract while S is unbounded, so this is the whole shuffle cost of
    PCA — the S-free G x G relation then feeds a driver/JVM eigensolver.
    Deterministic (unlike the eigenvectors), hence hash-gateable; with
    ``exact_scale`` the moments are decimal-exact (functions/exact.py)
    and the output is bitwise-reproducible across engines.

    Output: one row per unordered gene pair (ga <= gb) with n and the
    requested statistic.
    """
    a = long_df.select(
        F.col(gene_col).alias("ga"),
        F.col(sample_col).alias("s"),
        F.col(value_col).alias("x"),
    )
    b = long_df.select(
        F.col(gene_col).alias("gb"),
        F.col(sample_col).alias("s"),
        F.col(value_col).alias("y"),
    )
    pairs = a.join(b, "s").where(F.col("ga") <= F.col("gb"))
    if exact_scale is not None:
        sx, sy = dsum("x", exact_scale), dsum("y", exact_scale)
        sxy = dsumprod("x", "y", exact_scale, exact_scale)
        sx2, sy2 = dsum2("x", exact_scale), dsum2("y", exact_scale)
    else:
        sx, sy = F.sum("x"), F.sum("y")
        sxy = F.sum(F.col("x") * F.col("y"))
        sx2 = F.sum(F.col("x") * F.col("x"))
        sy2 = F.sum(F.col("y") * F.col("y"))
    mom = pairs.groupBy("ga", "gb").agg(
        F.count(F.lit(1)).alias("n"),
        sx.alias("sx"),
        sy.alias("sy"),
        sxy.alias("sxy"),
        sx2.alias("sx2"),
        sy2.alias("sy2"),
    )
    n = F.col("n").cast("double")
    if standardize:
        stat = corr_from_moments(
            F.col("sx"), F.col("sy"), F.col("sxy"), F.col("sx2"), F.col("sy2"), n
        ).alias("stat")
    else:
        stat = ((F.col("sxy") - F.col("sx") * F.col("sy") / n) / (n - 1)).alias(
            "stat"
        )
    return mom.select("ga", "gb", "n", stat)


def kmeans_lloyd_fixed(
    long_df: DataFrame,
    sample_col: str,
    gene_col: str,
    value_col: str,
    k: int = 3,
    n_iter: int = 2,
) -> DataFrame:
    """M12 cluster stage with a FIXED Lloyd schedule — the
    hash-gateable twin of :func:`kmeans_clusters`, same pattern as
    ``logistic_per_gene_fixed`` for M14 (`Study_effect.R:464` seeds
    kmeans for reproducibility; this goes further and makes the whole
    fit engine-exact).

    Fully relational Lloyd: centroids are RATIONAL (decimal coordinate
    sums S_jg plus member count n_j, never divided), so the squared
    distance from sample s to centroid j,

        d(s, j) = sum_g (n_j x_sg - S_jg)^2 / n_j^2,

    has an exact decimal numerator and exactly ONE double division —
    bitwise identical across engines, which makes the integer
    assignments (argmin with ties to the smallest j) exactly
    reproducible.  Init = the k samples with the smallest ids as
    singleton centroids (deterministic, like set.seed + fixed starts).
    Each iteration is a broadcast join (centroid relation is k x G
    rows) + one aggregation — no pivot, no driver loop over data; only
    the plan grows with ``n_iter``.

    Input must be a complete sample x gene grid with integer-valued
    cells (quantity-sum scale); numerators must stay under 2^53 for
    the final cast to be exact — holds through gate SFs by
    construction (documented bound, not checked row-wise).

    Returns (sample, cluster, dist2) after ``n_iter`` assignments,
    where dist2 is the exact squared distance to the winning rational
    centroid.  A cluster that loses all members simply drops out
    (standard Lloyd degeneracy; deterministic here).
    """
    from pyspark.sql import Window

    cells = long_df.select(
        F.col(sample_col).alias("s"),
        F.col(gene_col).alias("g"),
        F.col(value_col).cast("decimal(18,0)").alias("x"),
    )
    ids = (
        cells.select("s")
        .distinct()
        .withColumn("j", F.row_number().over(Window.orderBy("s")) - 1)
        .where(F.col("j") < k)
    )
    cent = (
        cells.join(F.broadcast(ids), "s")
        .select("j", "g", F.col("x").alias("cs"), F.lit(1).cast("long").alias("cn"))
    )
    assign = None
    for _ in range(n_iter):
        cand = cells.join(F.broadcast(cent), "g")
        num = (F.col("cn") * F.col("x") - F.col("cs")).cast("decimal(18,0)")
        scored = (
            cand.withColumn("_t", (num * num).cast("decimal(38,0)"))
            .groupBy("s", "j", "cn")
            .agg(F.sum("_t").alias("_num"))
            .select(
                "s",
                "j",
                (
                    F.col("_num").cast("double")
                    / (F.col("cn") * F.col("cn")).cast("double")
                ).alias("dist2"),
            )
        )
        w = Window.partitionBy("s").orderBy(F.col("dist2").asc(), F.col("j").asc())
        assign = (
            scored.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("s", "j", "dist2")
        )
        cent = (
            cells.join(assign.select("s", "j"), "s")
            .groupBy("j", "g")
            .agg(F.sum("x").alias("cs"), F.count(F.lit(1)).alias("cn"))
        )
    return assign.select(
        F.col("s").alias(sample_col),
        F.col("j").alias("cluster"),
        "dist2",
    )


def mds_bmatrix(
    long_df: DataFrame,
    sample_col: str,
    gene_col: str,
    value_col: str,
    exact_scale: int | None = None,
) -> DataFrame:
    """M12's DISTRIBUTED phase up to (and including) the double
    centering — B = -1/2 J D^2 J of classical MDS (``cmdscale``,
    `Study_effect.R:508,516`), fully in-plan: squared euclidean
    distances from a gene-keyed self-join, row sums + the grand sum as
    broadcast-back aggregates, then the centering arithmetic per cell.
    Everything before the S x S eigendecomposition — i.e. all the
    data-sized work — is this relation, and it is DETERMINISTIC (the
    eigenvector sign ambiguity enters only afterwards), so M12's heavy
    phase is hash-gateable.  With ``exact_scale`` the distance and
    row/grand sums stay decimal until the final divisions, making B
    bitwise-identical across engines.

    The input must be a COMPLETE sample x gene grid (zero-fill absent
    cells first, as R ``dist`` sees a complete matrix); missing pairs
    would silently shift row means.  Output: one row per ordered
    (sa, sb) pair including the diagonal.
    """
    a = long_df.select(
        F.col(sample_col).alias("sa"),
        F.col(gene_col).alias("g"),
        F.col(value_col).alias("x"),
    )
    b = long_df.select(
        F.col(sample_col).alias("sb"),
        F.col(gene_col).alias("g"),
        F.col(value_col).alias("y"),
    )
    joined = a.join(b, "g")
    if exact_scale is not None:
        # the raw diff types as decimal(19,s); squaring that would
        # exceed 38 digits and silently drop a fractional digit under
        # Spark's precision-loss rule (DuckDB keeps it -> ulp drift).
        # Narrow back to (18,s) first — exact, diffs are in range —
        # so the square is decimal(37,2s) on both engines.
        d = dec(dec("x", exact_scale) - dec("y", exact_scale), exact_scale)
        d2sum = F.sum(dprod(d, d, exact_scale, exact_scale))
    else:
        d2sum = F.sum((F.col("x") - F.col("y")) ** 2)
    d2 = joined.groupBy("sa", "sb").agg(d2sum.alias("_d2"))
    # row sums stay decimal through the second aggregation so the
    # S-term reductions are order-independent too
    rowsum = d2.groupBy("sa").agg(
        F.sum("_d2").alias("_rs"), F.count(F.lit(1)).alias("_s")
    )
    grand = rowsum.agg(
        F.sum("_rs").alias("_gs"), F.sum("_s").alias("_n")
    )
    ra = rowsum.select(F.col("sa"), F.col("_rs").alias("_ra"), F.col("_s"))
    rb = rowsum.select(F.col("sa").alias("sb"), F.col("_rs").alias("_rb"))
    s = F.col("_s").cast("double")
    return (
        d2.join(F.broadcast(ra), "sa")
        .join(F.broadcast(rb), "sb")
        .join(F.broadcast(grand))
        .select(
            "sa",
            "sb",
            F.col("_d2").cast("double").alias("d2"),
            (
                F.lit(-0.5)
                * (
                    F.col("_d2").cast("double")
                    - F.col("_ra").cast("double") / s
                    - F.col("_rb").cast("double") / s
                    + F.col("_gs").cast("double")
                    / (s * s)
                )
            ).alias("b_centered"),
        )
    )


def mds_embedding(
    long_df: DataFrame,
    sample_col: str,
    gene_col: str,
    value_col: str,
    k: int = 2,
) -> DataFrame:
    """M12 — classical MDS (``cmdscale(dist(t(data)), k=2)``,
    `Study_effect.R:508,516`): euclidean sample-sample distances from
    the long relation, double-centering, top-k eigenvectors scaled by
    sqrt(eigenvalue).

    Execution split by the data model (SURVEY §2.5 M12): the S x S
    squared-distance matrix is a DISTRIBUTED self-join + aggregation
    over the long relation (genes can be billions of rows); S itself is
    O(10-1000) samples, so the centering + eigendecomposition of the
    S x S matrix runs on the driver (numpy), exactly where the reference
    runs cmdscale.  Deterministic up to eigenvector sign (like
    cmdscale), so suite exposure is rows-only.  The input is COMPLETED
    (zero-fill of absent sample x gene cells) first — R ``dist`` sees a
    complete matrix, same rule as ``ward_hclust``.
    """
    import numpy as np

    # distances AND double centering run in-plan via mds_bmatrix (the
    # hash-gated distributed phase); the driver only ever sees the
    # S x S centered B — eigendecomposition is the sole local step,
    # exactly where the reference runs cmdscale
    cells = long_df.select(
        F.col(sample_col), F.col(gene_col), F.col(value_col)
    )
    grid = (
        cells.select(gene_col)
        .distinct()
        .crossJoin(cells.select(sample_col).distinct())
        .join(cells, [gene_col, sample_col], "left")
        .fillna({value_col: 0.0})
    )
    brel = mds_bmatrix(grid, sample_col, gene_col, value_col)
    rows = brel.collect()
    samples = sorted({r["sa"] for r in rows})
    idx = {s: i for i, s in enumerate(samples)}
    n = len(samples)
    B = np.zeros((n, n))
    for r in rows:
        B[idx[r["sa"]], idx[r["sb"]]] = r["b_centered"]
    vals, vecs = np.linalg.eigh(B)
    order = np.argsort(vals)[::-1][:k]
    coords = vecs[:, order] * np.sqrt(np.maximum(vals[order], 0.0))
    spark = long_df.sparkSession
    return spark.createDataFrame(
        [(s, [float(c) for c in coords[idx[s]]]) for s in samples],
        f"{sample_col} string, mds array<double>",
    )


def pca_space_outliers(
    vectors: DataFrame,
    sample_col: str,
    k: int = 3,
    alpha: float = 0.001,
) -> DataFrame:
    """M17 full fidelity — multivariate outlier detection in PCA space,
    the ``ArrayOutliers(alpha=0.001, pc2use=1:3)`` semantics of
    `QC_Affy_U133Plus2.R:156-164` / `QC_Illum_HT_12_V3.R:156-157`:
    project standardized sample vectors onto the top-``k`` principal
    components, take the Mahalanobis distance of each sample's score
    vector (PC scores are uncorrelated, so the covariance is the
    diagonal of per-component score variances), and flag samples whose
    chi-square(k) upper-tail probability falls below ``alpha``.

    ``k`` must be 3: the chi-square tail uses the closed odd-df form
    ``sf(x) = 2(1 - Phi(sqrt(x))) + sqrt(2x/pi) e^(-x/2)`` so the
    expression stays in whole-stage codegen (no SciPy).  The distance
    is sign-invariant, hence DETERMINISTIC even though the component
    directions are not — unlike raw PC coordinates this output is
    stable across BLAS builds.

    Returns (sample, d2, chi2_p, is_outlier); distributed PCA +
    column-expression scoring, no driver-side math beyond the k-vector
    of score variances (window over the bounded per-sample relation).
    """
    import math

    from pyspark.sql import Window

    from transcriptomics_data_integration_spark.functions.normal import norm_cdf_sql

    if k != 3:
        raise ValueError("pca_space_outliers implements the reference's pc2use=1:3 (k=3)")
    emb, _ev = pca_embedding(vectors, sample_col, k=k, standardize=True)
    arr = emb.select(
        sample_col, *[F.element_at("pcs", i + 1).alias(f"_pc{i + 1}") for i in range(k)]
    )
    return _mahalanobis_chi2_tail(arr, sample_col, k, alpha)


def _mahalanobis_chi2_tail(arr: DataFrame, sample_col: str, k: int, alpha: float) -> DataFrame:
    """Shared scoring tail: empirical per-component Mahalanobis d2 over
    ``_pc1.._pck`` columns + the closed chi-square(3) upper tail
    (odd-df form, stays in whole-stage codegen)."""
    import math

    from pyspark.sql import Window

    from transcriptomics_data_integration_spark.functions.normal import norm_cdf_sql

    w = Window.partitionBy()
    d2 = None
    for i in range(k):
        c = F.col(f"_pc{i + 1}")
        mean_i = F.avg(c).over(w)
        var_i = F.var_samp(c).over(w)
        term = (c - mean_i) ** 2 / var_i
        d2 = term if d2 is None else d2 + term
    scored = arr.withColumn("d2", d2)
    upper = f"(1.0 - {norm_cdf_sql('sqrt(d2)')})"
    sf = (
        f"(2.0 * {upper} + sqrt(2.0 * d2 / {math.pi}) * exp(-d2 / 2.0))"
    )
    return (
        scored.withColumn("chi2_p", F.expr(sf))
        .withColumn("is_outlier", (F.col("chi2_p") < F.lit(alpha)).cast("int"))
        .select(sample_col, "d2", "chi2_p", "is_outlier")
    )


# driver-side eigh bound for the covariance-route PCA: a G x G double
# matrix at this cap is 32 MB / ~seconds of LAPACK — far above any
# post-F5 gene set, far below driver memory.
_MAX_EIGH_GENES = 2000


def pca_space_outliers_long(
    long_df: DataFrame,
    sample_col: str,
    gene_col: str,
    value_col: str,
    k: int = 3,
    alpha: float = 0.001,
) -> DataFrame:
    """M17 full fidelity, covariance route — same semantics as
    :func:`pca_space_outliers` (``ArrayOutliers(alpha=0.001,
    pc2use=1:3)``, `QC_Affy_U133Plus2.R:156-164`) but built from the
    LONG relation with the gated ``feature_covariance`` kernel instead
    of MLlib's StandardScaler+PCA double fit.

    Why: the MLlib path runs three passes over the pivoted S x G
    relation (scaler fit, PCA fit, transform), each re-executing the
    pivot+assemble subtree when unpersisted — the r3 driver bench's
    single most expensive query (10.05 s).  Here the distributed work
    is exactly two actions over one persisted completed grid: (1) the
    G x G gene-gene correlation matrix (one self-join + moment
    aggregation — S-free, the whole shuffle cost of PCA), (2) the
    per-sample PC scores (one broadcast loadings join + one groupBy).
    The eigendecomposition runs on the bounded G x G matrix driver-side
    (numpy), exactly like ``mds_embedding``; G is bounded by the F5
    top-k contract (hard cap ``_MAX_EIGH_GENES``).

    Numerics: identical to the MLlib path — the grid is completed with
    zero fill (= ``sample_vectors``' ``na.fill(0.0)``), standardization
    is (x - mean)/sd with ddof=1 (= StandardScaler withMean/withStd),
    and the covariance of standardized columns IS the correlation
    matrix, so the eigenvectors agree up to sign and the Mahalanobis d2
    (sign-invariant) matches to machine precision.  Constant genes
    (sd = 0) get zero loadings and zero scores, matching StandardScaler
    mapping them to 0.  Deterministic even under degenerate eigenvalues
    (within a block all score variances equal the eigenvalue, so d2 is
    rotation-invariant); still rows-only in the suite because the eigen
    stage itself is not SQL-expressible.
    """
    import numpy as np

    from transcriptomics_data_integration_spark.runtime import register_persisted

    if k != 3:
        raise ValueError("pca_space_outliers_long implements pc2use=1:3 (k=3)")
    cells = long_df.select(sample_col, gene_col, value_col)
    grid = (
        cells.select(gene_col)
        .distinct()
        .crossJoin(cells.select(sample_col).distinct())
        .join(cells, [gene_col, sample_col], "left")
        .fillna({value_col: 0.0})
        .persist()  # 2 consumers: correlation moments + score join
    )
    register_persisted(grid)
    # bound check BEFORE collecting the G x G correlation relation: an
    # unfiltered 50k-gene input is a ~1.25e9-row collect that would OOM
    # the driver instead of raising the friendly error (r4 ADVICE)
    n_genes = cells.select(gene_col).distinct().count()
    if n_genes > _MAX_EIGH_GENES:
        raise ValueError(
            f"covariance-route PCA needs a bounded gene set ({n_genes} > "
            f"{_MAX_EIGH_GENES} genes seen) — apply nonspecific_filter_topk "
            "(F5) first"
        )
    corr = feature_covariance(grid, gene_col, sample_col, value_col, standardize=True)
    rows = corr.collect()
    genes = sorted({r["ga"] for r in rows} | {r["gb"] for r in rows})
    gidx = {g: i for i, g in enumerate(genes)}
    R = np.zeros((len(genes), len(genes)))
    for r in rows:
        s = r["stat"]
        v = 0.0 if s is None or s != s else float(s)  # constant gene -> 0
        R[gidx[r["ga"]], gidx[r["gb"]]] = v
        R[gidx[r["gb"]], gidx[r["ga"]]] = v
    vals, vecs = np.linalg.eigh(R)
    order = np.argsort(vals)[::-1][:k]
    V = vecs[:, order]  # G x k loadings
    spark = long_df.sparkSession
    gene_type = grid.schema[gene_col].dataType.simpleString()
    loadings = spark.createDataFrame(
        [(g, [float(x) for x in V[gidx[g]]]) for g in genes],
        f"{gene_col} {gene_type}, _load array<double>",
    )
    from pyspark.sql import Window

    w_g = Window.partitionBy(gene_col)
    sd_g = F.stddev_samp(value_col).over(w_g)
    z = F.when(
        sd_g > 0, (F.col(value_col) - F.avg(value_col).over(w_g)) / sd_g
    ).otherwise(F.lit(0.0))
    arr = (
        grid.withColumn("_z", z)
        .join(F.broadcast(loadings), gene_col)
        .groupBy(sample_col)
        .agg(
            *[
                F.sum(F.col("_z") * F.element_at("_load", i + 1)).alias(f"_pc{i + 1}")
                for i in range(k)
            ]
        )
    )
    return _mahalanobis_chi2_tail(arr, sample_col, k, alpha)
