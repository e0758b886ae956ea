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

from transcriptomics_data_integration_spark.functions.exact import dsum, dsum2, dsumprod


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
    < frac * 2^60), and it cuts the pair work in proportion to the
    fraction.
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
        agg = joined.groupBy("platform", "g", "h").agg(
            F.count(F.lit(1)).alias("n"),
            dsum("x", s).alias("sx"),
            dsum("y", s).alias("sy"),
            dsumprod("x", "y", s, s).alias("sxy"),
            dsum2("x", s).alias("sx2"),
            dsum2("y", s).alias("sy2"),
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
    """Second ICC stage, shared by the exact and partner-sampled
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
