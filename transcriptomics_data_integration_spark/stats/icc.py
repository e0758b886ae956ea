"""Integrative correlation (SURVEY.md A12) — the reference's
"very time consuming" kernel (`scripts/data_integration/Meta_analysis.R:331,380`,
intCor calls `:333,382`; concept `README.md:141-147`).

Semantics (MergeMaid intCor): within each platform, compute the
gene x gene correlation matrix over samples; a gene's ICC for a
platform pair is the correlation, across partner genes, of its two
correlation profiles; the reported ICC is the average over all
platform pairs (`combn` at `Meta_analysis.R:315`).

Spark decomposition:

- cell build: one aggregation to (platform, gene, sample) cells;
- gene-pair correlations: self-join on (platform, sample) — shuffle on
  the join key, then one aggregation to (platform, g, h) moments.
  This is the O(G^2) step: restrict genes first (the reference runs it
  after the F5 top-variance filter, 3k-10k genes);
- profile correlations: join platform A rows to platform B rows on
  (g, h) and aggregate per (g, pair) — tiny relative to step 2.

``exact_scale``: cells and products accumulate in DECIMAL so the
DuckDB oracle matches bitwise (see functions/exact.py).
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _pair_corr_moments(
    cells: DataFrame,
    exact_scale: int | None,
    partner_frac: float | None = None,
    partner_salt: str = "icc-partner",
):
    """(platform, g, h) correlation over shared samples, g < h kept
    both directions (profile of g includes h and vice versa).

    ``partner_frac``: the ORACLED approximation tier (r7) — restrict
    the PARTNER side (h) to the genes whose md5-hash falls under the
    fraction, before the pair join, so the quadratic shrinks from G^2
    to G * (G * frac) while every gene g still gets an ICC (its
    profile is correlated over the same hashed partner subset on both
    platforms).  The subset is deterministic and SQL-replayable
    (DuckDB: ('0x' || substring(md5(salt || '#' || h), 1, 15))::BIGINT
    < frac * 2^60), unlike DIMSUM's sampler — and unlike DIMSUM it
    actually cuts work for unit-norm correlation columns (see
    `platform_gene_correlations_dimsum`'s measured loss, PLANS.md r7).
    """
    left = cells.select(
        F.col("platform"), F.col("sample_id"), F.col("gene_id").alias("g"), F.col("value").alias("x")
    )
    right = cells.select(
        F.col("platform"), F.col("sample_id"), F.col("gene_id").alias("h"), F.col("value").alias("y")
    )
    if partner_frac is not None:
        h60 = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "#", F.lit(partner_salt), F.col("h").cast("string")
                    ).cast("binary")
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        right = right.where(h60 < int(partner_frac * float(1 << 60)))
    joined = left.join(right, ["platform", "sample_id"]).where(F.col("g") != F.col("h"))
    if exact_scale is not None:
        s = exact_scale
        dx = F.col("x").cast(f"decimal(18,{s})")
        dy = F.col("y").cast(f"decimal(18,{s})")
        agg = joined.groupBy("platform", "g", "h").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dx).cast("double").alias("sx"),
            F.sum(dy).cast("double").alias("sy"),
            F.sum((dx * dy).cast(f"decimal(38,{2 * s})")).cast("double").alias("sxy"),
            F.sum((dx * dx).cast(f"decimal(38,{2 * s})")).cast("double").alias("sx2"),
            F.sum((dy * dy).cast(f"decimal(38,{2 * s})")).cast("double").alias("sy2"),
        )
    else:
        agg = joined.groupBy("platform", "g", "h").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sx2"),
            F.sum(F.col("y") * F.col("y")).alias("sy2"),
        )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    radx = F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")
    rady = F.col("n") * F.col("sy2") - F.col("sy") * F.col("sy")
    # filter on the radicands, not the sqrt product: identical predicate
    # on both engines and no sqrt-of-negative in strict SQL engines
    return (
        agg.where((radx > 0) & (rady > 0))
        .withColumn("r", num / (F.sqrt(radx) * F.sqrt(rady)))
        .select("platform", "g", "h", "r")
    )


def icc(
    cells: DataFrame,
    platforms: list[str],
    exact_scale: int | None = 2,
    partner_frac: float | None = None,
) -> DataFrame:
    """Per-gene integrative correlation averaged over platform pairs.

    ``cells``: (platform, gene_id, sample_id, value) — one value per
    (platform, gene, sample), already restricted to the analysis gene
    set.  Returns (gene_id, icc, n_pairs).

    ``partner_frac``: optional oracled approximation — correlate each
    gene's profiles over a deterministic md5-hashed subset of partner
    genes (see `_pair_corr_moments`); cost scales linearly with the
    fraction, error with 1/sqrt(G*frac) partner count.  The profile
    stage then runs in tick-quantized order-independent mode so small
    partner sets stay engine-exact.
    """
    rr = _pair_corr_moments(cells, exact_scale, partner_frac=partner_frac)
    return _profile_stage(
        rr, platforms, tick_scale=9 if partner_frac is not None else None
    )


def _profile_stage(
    rr: DataFrame, platforms: list[str], tick_scale: int | None = None
) -> DataFrame:
    """Second ICC stage, shared by the exact / DIMSUM / partner-sampled
    gene-correlation tiers: correlate each gene's two correlation
    profiles across partner genes per platform pair, then
    average over pairs.  ``rr``: (platform, g, h, r).

    ``tick_scale``: order-independent mode (the combat_eb2 precedent)
    — quantize r to integer ticks floor(r*10^q + 0.5) and accumulate
    the profile moments in DECIMAL, so the radicand sign test and the
    final correlation are bit-identical regardless of summation order
    (correlation is scale-invariant, so ticks only perturb the value
    by ~10^-q quantization).  Required for the ORACLED sampled tier:
    partner subsetting can leave 2-partner profiles whose float
    radicand (~1e-18) flips sign between engines' summation orders —
    the icc_sampled sf0.1 rowcount mismatch that motivated this mode.
    """
    pair_iccs = []
    for a, b in combinations(platforms, 2):
        ra = rr.where(F.col("platform") == a).select("g", "h", F.col("r").alias("ra"))
        rb = rr.where(F.col("platform") == b).select("g", "h", F.col("r").alias("rb"))
        prof = ra.join(rb, ["g", "h"])
        if tick_scale is not None:
            tick = float(10**tick_scale)
            ta = F.floor(F.col("ra") * tick + F.lit(0.5)).cast("decimal(19,0)")
            tb = F.floor(F.col("rb") * tick + F.lit(0.5)).cast("decimal(19,0)")
            m = prof.groupBy("g").agg(
                F.count(F.lit(1)).cast("decimal(19,0)").alias("n"),
                F.sum(ta).alias("sx"),
                F.sum(tb).alias("sy"),
                F.sum(ta * tb).alias("sxy"),
                F.sum(ta * ta).alias("sx2"),
                F.sum(tb * tb).alias("sy2"),
            )
        else:
            m = prof.groupBy("g").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("ra").alias("sx"),
                F.sum("rb").alias("sy"),
                F.sum(F.col("ra") * F.col("rb")).alias("sxy"),
                F.sum(F.col("ra") * F.col("ra")).alias("sx2"),
                F.sum(F.col("rb") * F.col("rb")).alias("sy2"),
            )
        num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
        radx = F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")
        rady = F.col("n") * F.col("sy2") - F.col("sy") * F.col("sy")
        if tick_scale is not None:
            # exact-integer sign test, double only at the final ratio
            num = num.cast("double")
            radx_d = radx.cast("double")
            rady_d = rady.cast("double")
            pair_iccs.append(
                m.where((radx > 0) & (rady > 0)).select(
                    F.col("g").alias("gene_id"),
                    (num / (F.sqrt(radx_d) * F.sqrt(rady_d))).alias("pair_icc"),
                )
            )
            continue
        pair_iccs.append(
            m.where((radx > 0) & (rady > 0)).select(
                F.col("g").alias("gene_id"),
                (num / (F.sqrt(radx) * F.sqrt(rady))).alias("pair_icc"),
            )
        )
    unioned = pair_iccs[0]
    for p in pair_iccs[1:]:
        unioned = unioned.unionByName(p)
    return unioned.groupBy("gene_id").agg(
        F.avg("pair_icc").alias("icc"), F.count(F.lit(1)).alias("n_pairs")
    )


def platform_gene_correlations_dimsum(
    cells: DataFrame, platforms: list[str], threshold: float
) -> DataFrame:
    """Approximation tier for the gene-gene correlation stage (SURVEY
    §4.2 allows `RowMatrix.columnSimilarities(threshold)`): per
    platform, standardized gene columns over sample rows make the
    column-cosine EQUAL to Pearson r, and DIMSUM ("Dimension
    Independent Matrix Square using MapReduce", Zadeh & Carlsson 2013
    — the algorithm behind columnSimilarities) samples the row
    outer-products so that pairs with |r| >= threshold are estimated
    with high relative accuracy WITHOUT materializing the full G^2
    gram product; sub-threshold pairs may be dropped or noisy.  With
    ``threshold=0`` Spark computes the exact brute-force cosine.

    Output: (platform, g, h, r) — both directions per surviving pair,
    matching `_pair_corr_moments`' shape, restricted to pairs DIMSUM
    kept.  Assumes a DENSE cell matrix (every retained gene observed
    on every sample): absent cells enter the column vectors as 0,
    whereas the exact tier correlates over pairwise-shared samples —
    restrict to the post-F5 dense gene set first (the reference runs
    ICC there too, `Meta_analysis.R:312-341`).
    """
    from pyspark.mllib.linalg import Vectors
    from pyspark.mllib.linalg.distributed import RowMatrix

    spark = cells.sparkSession
    out = None
    for plat in platforms:
        sub = cells.where(F.col("platform") == plat)
        stats = (
            sub.groupBy("gene_id")
            .agg(
                F.avg("value").alias("m"),
                F.stddev("value").alias("sd"),
                F.count(F.lit(1)).alias("n"),
            )
            .where(F.col("sd") > 0)
        )
        std = sub.join(stats, "gene_id").withColumn(
            "z",
            (F.col("value") - F.col("m")) / (F.col("sd") * F.sqrt(F.col("n") - 1)),
        )
        genes = [
            r["gene_id"]
            for r in stats.select("gene_id").orderBy("gene_id").collect()
        ]
        g_idx = {g: i for i, g in enumerate(genes)}
        bc_g = spark.sparkContext.broadcast(g_idx)
        dim = len(genes)

        # one row per SAMPLE (genes are the columns DIMSUM correlates);
        # Arrow-batched assembly keeps the G x S cells out of
        # row-at-a-time Python
        def to_row(pdf):
            import numpy as np
            import pandas as pd

            vec = np.zeros(dim)
            vec[pdf["gene_id"].map(bc_g.value).to_numpy()] = pdf["z"].to_numpy()
            return pd.DataFrame({"vec": [vec.tolist()]})

        rows_df = (
            std.select("sample_id", "gene_id", "z")
            .groupBy("sample_id")
            .applyInPandas(to_row, schema="vec array<double>")
        )
        # DIMSUM's per-row work is O(nnz_row^2) — with S small and AQE
        # coalescing the tiny post-shuffle rows to ONE partition, the
        # whole quadratic lands on a single task.  Spread the rows so
        # every core carries ~1 row's outer products.
        n_part = max(2, spark.sparkContext.defaultParallelism)
        mat = RowMatrix(
            rows_df.rdd.map(lambda r: Vectors.dense(r["vec"])).repartition(n_part)
        )
        sims = mat.columnSimilarities(threshold)  # upper-triangular i < j
        ent = sims.entries.toDF()  # i, j, value
        inv_g = spark.createDataFrame(
            [(i, g) for g, i in g_idx.items()], ["idx", "gene_id"]
        )
        both = ent.select(
            F.col("i").alias("gi"), F.col("j").alias("hj"), F.col("value").alias("r")
        ).unionByName(
            ent.select(
                F.col("j").alias("gi"), F.col("i").alias("hj"), F.col("value").alias("r")
            )
        )
        rdf = (
            both.join(
                F.broadcast(
                    inv_g.withColumnRenamed("idx", "gi").withColumnRenamed(
                        "gene_id", "g"
                    )
                ),
                "gi",
            )
            .join(
                F.broadcast(
                    inv_g.withColumnRenamed("idx", "hj").withColumnRenamed(
                        "gene_id", "h"
                    )
                ),
                "hj",
            )
            .select(F.lit(plat).alias("platform"), "g", "h", "r")
        )
        out = rdf if out is None else out.unionByName(rdf)
    return out


def icc_dimsum(
    cells: DataFrame, platforms: list[str], threshold: float = 0.3
) -> DataFrame:
    """ICC with the DIMSUM-thresholded gene-correlation tier feeding
    the shared profile stage — the 100 TB approximation path next to
    the exact relational tier (exact stays the oracle;
    this tier is bounded against it by
    `tests/test_stats_ml.py::test_icc_dimsum_tiers`).  The profile
    correlations run over the partner genes DIMSUM kept (|r| above
    threshold dominate both profile moments, which is what makes the
    truncation tolerable), so cost scales with surviving pairs, not
    G^2."""
    rr = platform_gene_correlations_dimsum(cells, platforms, threshold)
    return _profile_stage(rr, platforms)
