"""Filter / predicate operators (SURVEY.md section 2.2, F1-F12).

Each function is a lazy transformation; Catalyst pushes the resulting
predicates/semi-joins down to the parquet scan where possible.  Scale
notes: the "list" inputs (exclusion lists, outlier sheets, probe maps)
are dimension tables of at most a few million rows — every join here is
broadcast-able and is marked as such so no shuffle of the fact table
occurs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from transcriptomics_data_integration_spark.functions.exact import (
    dsum,
    dsum2,
    var_from_moments,
)


def exclude_ids(df: DataFrame, exclusion: DataFrame, key: str) -> DataFrame:
    """F2 — drop rows whose ``key`` appears in ``exclusion``.

    Reference: gene exclusion list via ``%!in%``
    (`scripts/data_integration/DiffExpression_closedPlatform.R:77-78,341-344`).
    Spark: broadcast left-anti join — no shuffle of the fact side.
    """
    return df.join(F.broadcast(exclusion.select(key).distinct()), key, "left_anti")


def keep_ids(df: DataFrame, keep: DataFrame, key: str) -> DataFrame:
    """F1/F12 — keep only rows whose ``key`` appears in ``keep``.

    Reference: sample projection via target sheet
    (`DiffExpression_closedPlatform.R:348-355`); detection-call subset
    (`GenExpressionComb_Illum_HT_12_V3.R:182-185`).
    """
    return df.join(F.broadcast(keep.select(key).distinct()), key, "left_semi")


def remove_outlier_samples(
    df: DataFrame,
    outliers: DataFrame,
    packed_col: str,
    sample_col: str,
) -> DataFrame:
    """F3 — drop samples named in a comma-packed exclusion column.

    Reference: ``outliers_<study>.txt`` has ``Samples2exclude`` as a
    comma-joined string (`QC_Affy_U133Plus2.R:162-164`), consumed by
    splitting (`GenExpressionComb_Affy_U133Plus2.R:115-129`).  Spark:
    ``split`` + ``explode`` turns the packed string into rows, then a
    broadcast anti-join removes them.
    """
    excl = (
        outliers.where(F.col(packed_col).isNotNull() & (F.col(packed_col) != ""))
        .select(F.explode(F.split(F.col(packed_col), ",")).alias(sample_col))
        .select(F.trim(F.col(sample_col)).alias(sample_col))
        .distinct()
    )
    return df.join(F.broadcast(excl), sample_col, "left_anti")


def zero_variance_filter(df: DataFrame, gene_col: str, value_col: str) -> DataFrame:
    """F4 — keep genes whose value has sd > 0 across samples.

    Reference: `DiffExpression_closedPlatform.R:375-376`,
    `Study_effect.R:539-540`.  Shape: per-gene stddev as a WINDOW
    aggregate, not agg + self-semi-join — the window form shuffles the
    relation once by gene and reads the input subtree ONCE, where the
    join form re-executes the entire upstream pipeline as the probe
    side (Catalyst does not common-subexpression a non-cached subtree).
    At the end of a long pipeline that halves the work; the output also
    leaves hash-distributed by gene for downstream per-gene stages.
    """
    w = Window.partitionBy(gene_col)
    return (
        df.withColumn("_sd", F.stddev(value_col).over(w))
        .where(F.col("_sd") > 0)
        .drop("_sd")
    )


def nonspecific_filter_topk(
    df: DataFrame, gene_col: str, value_col: str, k: int,
    exact_scale: int | None = None,
) -> DataFrame:
    """F5/W1 — keep the top-k genes by stddev of value.

    Reference: non-specific filter, 60%/50%/fixed-k variants
    (`DiffExpression_closedPlatform.R:443-450`,
    `DiffExpression_openPlatform.R:403-409`, `Study_effect.R:183-237`).
    NOTE (semantics, SURVEY.md section 4): this is a *semantic* filter —
    it changes downstream results and must not be optimized away.

    Scale: the per-gene aggregate is small (one row per gene); the
    global top-k ranking runs on that aggregate, never on raw rows.
    Deterministic tie-break on gene id.

    ``exact_scale``: rank on the DECIMAL-moment sd (order-independent
    sums, functions/exact.py scheme) so the kept set is bitwise
    identical across engines/partitionings — a rank-boundary gene must
    not flip membership on a last-ulp stddev difference when the
    filter gates a hash-checked composition.
    """
    per_gene = df.groupBy(gene_col).agg(*top_variance_aggregates(value_col, exact_scale))
    keep = top_variance_genes(per_gene, gene_col, k, exact_scale)
    return df.join(F.broadcast(keep), gene_col, "left_semi")


def top_variance_aggregates(value_col: str, exact_scale: int | None) -> list[Column]:
    """The per-gene aggregate columns F5 ranks on, finished by
    :func:`top_variance_genes`: ``_sd`` itself in float mode, the
    decimal moments ``_n``, ``_s``, ``_s2`` with ``exact_scale``.  Like
    ``stddev`` and the decimal sums, ``_n`` skips null values, so both
    modes rank a gene with missing cells on the same moments."""
    if exact_scale is None:
        return [F.stddev(value_col).alias("_sd")]
    return [
        F.count(value_col).alias("_n"),
        dsum(value_col, exact_scale).alias("_s"),
        dsum2(value_col, exact_scale).alias("_s2"),
    ]


def top_variance_genes(
    per_gene: DataFrame, gene_col: str, k: int, exact_scale: int | None
) -> DataFrame:
    """The ``gene_col`` ids of the k genes with the largest sd in a
    relation grouped with :func:`top_variance_aggregates`, ties broken
    on gene id."""
    if exact_scale is not None:
        n, sx, sx2 = F.col("_n"), F.col("_s"), F.col("_s2")
        per_gene = per_gene.where(n >= 2).withColumn(
            "_sd", F.sqrt(var_from_moments(sx, sx2, n))
        )
    w = Window.orderBy(F.col("_sd").desc(), F.col(gene_col))
    return (
        per_gene.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select(gene_col)
    )


def reliability_filter(
    df: DataFrame,
    group_col: str,
    unreliable_pred: Column,
    gene_col: str,
    max_unreliable: int,
    require_single_gene: bool = True,
) -> DataFrame:
    """F6/F7 — per probeset, count "unreliable" members and retain
    probesets with at most ``max_unreliable`` of them and (optionally)
    all members mapping to a single gene.

    Reference: `scripts/microarray_data_processing/ProbeFilter.pl:99-160`
    (exon threshold ``<=1`` at `:153`; 3'IVT ``<=2`` at `:439`);
    Illumina exact-match variant `:1372-1430`.
    Returns the retained *group* rows (group key + counts), the
    engine-side analogue of the ``.flat`` file.
    """
    agg = df.groupBy(group_col).agg(
        F.sum(F.when(unreliable_pred, 1).otherwise(0)).alias("n_unreliable"),
        F.countDistinct(gene_col).alias("n_genes"),
        F.count(F.lit(1)).alias("n_members"),
    )
    cond = F.col("n_unreliable") <= max_unreliable
    if require_single_gene:
        cond = cond & (F.col("n_genes") == 1)
    return agg.where(cond)


def low_value_floor(
    df: DataFrame, value_col: str, threshold: float, floor: float = 0.0
) -> DataFrame:
    """F10 — floor values below ``threshold`` to ``floor``.

    Reference: CQN log2 values < 2 set to 0
    (`GenExpressionComb_RNAseq.R:246-249`, rationale `README.md:90`).
    """
    return df.withColumn(
        value_col,
        F.when(F.col(value_col) < threshold, F.lit(floor)).otherwise(F.col(value_col)),
    )


def zero_repair(df: DataFrame, sample_col: str, value_col: str) -> DataFrame:
    """F11 — replace zero values with the per-sample minimum non-zero
    value (Illumina RSN pre-step).

    Reference: `GenExpressionComb_Illum_HT_12_V3.R:57-67`.  Implemented
    as a window min over the sample partition — one shuffle by sample,
    reusable by the per-sample rank stage that follows in the pipeline
    (SURVEY.md section 4 partitioning discipline).
    """
    w = Window.partitionBy(sample_col)
    min_nonzero = F.min(F.when(F.col(value_col) > 0, F.col(value_col))).over(w)
    # an all-zero sample has no nonzero minimum — keep 0, don't NULL out
    return df.withColumn(
        value_col,
        F.when(
            F.col(value_col) == 0, F.coalesce(min_nonzero, F.col(value_col))
        ).otherwise(F.col(value_col)),
    )


def dabg_filter(
    df: DataFrame,
    probeset_col: str,
    transcript_col: str,
    sample_col: str,
    group_col: str,
    value_col: str,
    crosshyb_col: str | None = None,
    log2_threshold: float = 3.0,
) -> DataFrame:
    """F9 — the reference's exact 3-condition DABG (detection above
    background) presence filter for exon arrays, as one relational
    pass.  Reference:
    `scripts/microarray_data_processing/GenExpressionComb_Affy_HuEx1ST_DABGfilter.R:245`
    (crosshyb keep), `:251-269` + `:275-280` (probeset absent/present
    per group, drop probesets present in NO group), `:282-308`
    (transcript present per sample when >= half its probesets are
    present, kept when present in >= half the samples of >= 2
    groups).

    Semantics, faithfully:

    1. crosshyb: keep rows where ``crosshyb_col == 1`` (`:245`).
    2. probeset x group presence: ABSENT fraction (value below the
       log2 threshold) strictly < 0.5 (`:253`); a single-sample group
       uses the reference's STRICT ``> threshold`` branch (`:255`).
    3. probesets kept when present in >= 1 group (`:275-280`).
    4. transcript x sample presence: absent fraction over the
       transcript's (crosshyb-kept) probesets strictly < 0.5
       (`:286-289`).
    5. transcript x group presence: present in >= half the group's
       samples, INCLUSIVE (`:297-303` — note the asymmetry with the
       probeset rule's exclusive bound, preserved on purpose).
    6. transcripts kept when present in >= 2 groups (`:306-308`).

    Output: the crosshyb-kept input rows for kept probesets of kept
    transcripts (empty transcripts disappear with their rows, the
    relational form of `:332-334`).

    Execution shape: the threshold test runs on the VALUE domain
    (``v < 2**log2_threshold``) so no log is ever evaluated — exact
    in any engine — and every fraction comparison is integer
    cross-multiplication (``2*absent < n``), so the whole filter is
    three partial-aggregate shuffles (probeset x group,
    transcript x sample, transcript x group) plus two broadcast
    semi-joins of the keep-lists back to the fact; nothing
    corpus-sized is ever windowed or collected, and the keep dims are
    probeset/transcript-sized (~1e6 rows at array scale —
    broadcastable).
    """
    thr = float(2.0**log2_threshold)
    base = df.where(F.col(crosshyb_col) == 1) if crosshyb_col else df
    absent = F.when(F.col(value_col) < thr, 1).otherwise(0)
    pg = base.groupBy(probeset_col, group_col).agg(
        F.sum(absent).alias("_na"),
        F.count(F.lit(1)).alias("_n"),
        F.min(value_col).alias("_v1"),
    )
    present_pg = F.when(F.col("_n") == 1, F.col("_v1") > thr).otherwise(
        F.col("_na") * 2 < F.col("_n")
    )
    ps_keep = pg.where(present_pg).select(probeset_col).distinct()
    ts = base.groupBy(transcript_col, sample_col, group_col).agg(
        (F.sum(absent) * 2 < F.count(F.lit(1))).cast("int").alias("_p")
    )
    tg = ts.groupBy(transcript_col, group_col).agg(
        F.sum("_p").alias("_np"), F.count(F.lit(1)).alias("_ns")
    ).where(F.col("_np") * 2 >= F.col("_ns"))
    tr_keep = (
        tg.groupBy(transcript_col)
        .agg(F.count(F.lit(1)).alias("_ng"))
        .where(F.col("_ng") >= 2)
        .select(transcript_col)
    )
    return base.join(F.broadcast(ps_keep), probeset_col, "left_semi").join(
        F.broadcast(tr_keep), transcript_col, "left_semi"
    )
