"""Join operators (SURVEY.md section 2.3, J1-J9).

The only join shape Spark lacks natively is the genomic interval join
(J6); everything else maps to built-in equi-joins whose physical
strategy (broadcast-hash vs sort-merge) Catalyst + AQE pick.  The
sample-sheet alignment (J7: expression cells x ``targets``) is not a join
at all: the sheet is collected once and each cell reads its labels
from a literal hash table (``SampleSheet``).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, Row, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, MapType, StringType, StructType

# A sample sheet lists 10-1000 samples per platform over 9 platforms
# (SURVEY.md section 1.1); a larger one is not a sample sheet.
MAX_SHEET_SAMPLES = 100_000


class SampleSheet:
    """A sample sheet (``targets``: one row per sample) collected to
    the driver once, with its domain checked, that labels fact rows
    without a join.

    A join of the facts to the sheet runs a broadcast job, and
    Catalyst's size-only estimate multiplies the sizes of a join's
    children, so every relation built on the labelled facts looks
    hundreds of times larger than it is (an 800-gene meta table read
    ~217 MB instead of ~330 KB), and size-adaptive operators downstream
    (``stats.bh.p_adjust``) pay a persist and a count to measure it.
    Here the sheet becomes one literal: an array of ``2^k >= n`` small
    maps, a hash table keyed by ``xxhash64`` of the sample id, so a
    cell's lookup costs one hash and about one key compare whatever the
    sheet's size.  A single literal map scans its keys linearly: with
    1000 samples, labelling 10^7 cells on 4 cores took 13.1 s that
    way, 1.6 s by the broadcast join and 1.6 s by this table.  Ids are
    compared in the sheet's id type, through its string form, and the
    label columns round-trip through Spark's ``to_json``/``from_json``.

    The rows match an inner join of the facts to the sheet: cells of a
    sample the sheet lacks, or with a null id, are dropped; a sample
    listed with null labels keeps its cells.  ``ValueError`` for a
    sample listed twice (the join would double its cells) and for a
    sheet of more than ``MAX_SHEET_SAMPLES`` samples."""

    def __init__(self, targets: DataFrame, sample_col: str, *cols: str) -> None:
        self.sample_col = sample_col
        self.cols = cols
        self._key_type = targets.schema[sample_col].dataType
        key = F.col(sample_col).cast("string")
        # ``rows``: one per sample, in the sheet's types (``cols`` by
        # name) beside the hash-table entry
        self.rows: list[Row] = (
            targets.where(F.col(sample_col).isNotNull())
            .select(
                key.alias("_key"),
                F.xxhash64(key).alias("_hash"),
                F.to_json(F.struct(*cols)).alias("_labels"),
                *cols,
            )
            .collect()
        )
        if len(self.rows) > MAX_SHEET_SAMPLES:
            raise ValueError(
                f"sample sheet has {len(self.rows)} samples; at most "
                f"{MAX_SHEET_SAMPLES} are supported"
            )
        self._n_slots = 1 << len(self.rows).bit_length()
        slots: list[list[str]] = [[] for _ in range(self._n_slots)]
        seen: set[str] = set()
        for r in self.rows:
            if r["_key"] in seen:
                raise ValueError(f"sample sheet lists sample {r['_key']!r} more than once")
            seen.add(r["_key"])
            slots[r["_hash"] % self._n_slots].append(f"{json.dumps(r['_key'])}:{r['_labels']}")
        doc = "[" + ",".join("{" + ",".join(s) + "}" for s in slots) + "]"
        label_type = StructType([targets.schema[c] for c in cols])
        # from_json of a literal folds to one literal at optimization
        self._table = F.from_json(F.lit(doc), ArrayType(MapType(StringType(), label_type)))

    def label(self, facts: DataFrame, *cols: str) -> DataFrame:
        """``facts`` with the sheet's ``cols`` (default: all of them)
        attached by sample, in the column order of
        ``facts.join(sheet, sample_col)``."""
        key = F.col(self.sample_col).cast(self._key_type).cast("string")
        slot = (F.pmod(F.xxhash64(key), F.lit(self._n_slots)) + 1).cast("int")
        labels = F.element_at(self._table, slot)[key]
        return (
            facts.withColumn("_labels", labels)
            .where(F.col("_labels").isNotNull())
            .select(
                self.sample_col,
                *[c for c in facts.columns if c != self.sample_col],
                *[F.col("_labels")[c].alias(c) for c in cols or self.cols],
            )
        )


def label_samples(facts: DataFrame, targets: DataFrame, sample_col: str, *cols: str) -> DataFrame:
    """J7 — ``facts`` labelled with the sample sheet's ``cols``, row
    for row ``facts.join(targets.select(sample_col, *cols),
    sample_col)``, from one collect of the sheet and no join (see
    ``SampleSheet``)."""
    return SampleSheet(targets, sample_col, *cols).label(facts)


def left_merge(
    left: DataFrame, right: DataFrame, key: str, broadcast_right: bool = True
) -> DataFrame:
    """J2 — generic keyed left-outer merge with NULL padding.

    Reference: ``MergeFiles.pl`` builds a hash on the smaller file and
    probes it, padding non-matches with NA
    (`scripts/other/MergeFiles.pl:73-119`, NA pad `:113`).  Spark's
    broadcast-hash join is the same plan shape; NULL padding is the
    left-outer contract.
    """
    r = F.broadcast(right) if broadcast_right else right
    return left.join(r, key, "left")


def interval_join(
    probes: DataFrame,
    genes: DataFrame,
    chrom: str = "chrom",
    start: str = "start",
    end: str = "end",
    gene_id: str = "gene_id",
    bucket_size: int = 1_000_000,
) -> DataFrame:
    """J6 — interval overlap join: each probe locus ``[start, end]``
    against gene spans on the same chromosome; emits, per probe, the
    *first* overlapping gene (smallest gene start, then gene id) and the
    count of overlapping genes.

    Reference: `scripts/microarray_data_processing/ArrayAnnot.pl:116-155`
    (range fetch `:136-137`, first-gene pick `:140-148`, overlap count
    `:142-154`).

    Scale strategy (SURVEY.md section 4.4): a raw non-equi join executes
    as a broadcast-nested-loop — O(P*G) comparisons.  We bucket genomic
    positions into ``bucket_size`` bins and explode each gene span into
    the buckets it covers, turning the join into an equi-join on
    ``(chrom, bucket)`` followed by the exact overlap predicate.  This is
    a hash join whose cost is O(P + G * span/bucket) and it shuffles on a
    well-distributed composite key, so it survives 100x scale-up; gene
    spans are bounded (|span|/bucket_size explode factor is small).
    """
    p = probes.select(
        F.col(chrom).alias("_p_chrom"),
        F.col(start).alias("_p_start"),
        F.col(end).alias("_p_end"),
        "*",
    ).withColumn("_p_bucket", (F.col("_p_start") / bucket_size).cast("long"))
    # A probe interval is short (<= probe length), so it lives in at most
    # two buckets; genes can span many.  Explode the gene side.
    g = (
        genes.select(
            F.col(chrom).alias("_g_chrom"),
            F.col(start).alias("_g_start"),
            F.col(end).alias("_g_end"),
            F.col(gene_id).alias("_g_gene"),
        )
        .withColumn(
            "_g_bucket",
            F.explode(
                F.sequence(
                    (F.col("_g_start") / bucket_size).cast("long"),
                    (F.col("_g_end") / bucket_size).cast("long"),
                )
            ),
        )
    )
    # probes may straddle a bucket boundary: also probe at end's bucket.
    p2 = p.withColumn(
        "_p_bucket",
        F.explode(
            F.array_distinct(
                F.array(
                    (F.col("_p_start") / bucket_size).cast("long"),
                    (F.col("_p_end") / bucket_size).cast("long"),
                )
            )
        ),
    )
    joined = p2.join(
        g,
        (F.col("_p_chrom") == F.col("_g_chrom"))
        & (F.col("_p_bucket") == F.col("_g_bucket"))
        & (F.col("_p_start") <= F.col("_g_end"))
        & (F.col("_p_end") >= F.col("_g_start")),
        "inner",
    )
    # A (probe, gene) pair can match in two buckets; dedupe before
    # counting.  Keys that identify a probe: all original probe columns —
    # caller guarantees a unique probe key in `probes`; we require one
    # named column "_probe_key" or fall back to (chrom,start,end).
    return joined


def overlap_summary(joined: DataFrame, probe_key: str) -> DataFrame:
    """Collapse the raw interval-join matches to the reference's output
    contract: one row per probe with ``gene_id`` = first overlapping
    gene (by gene start, then id) and ``gene_no`` = number of distinct
    overlapping genes (`ArrayAnnot.pl:140-154`)."""
    dedup = joined.select(
        probe_key, "_g_gene", "_g_start"
    ).dropDuplicates([probe_key, "_g_gene"])
    return dedup.groupBy(probe_key).agg(
        F.min(F.struct("_g_start", "_g_gene"))["_g_gene"].alias("gene_id"),
        F.countDistinct("_g_gene").alias("gene_no"),
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    ts_col: str,
    attach_cols: list[str],
    tiebreak_col: str,
    suffix: str = "_asof",
    direction: str = "backward",
    tolerance: int | None = None,
) -> DataFrame:
    """As-of join: attach to each left row the nearest right row per
    key (left-join semantics: no qualifying right row -> nulls), with
    the pandas ``merge_asof`` direction/tolerance surface (r7):

    - ``backward`` (default): most recent right row with ts <= left.ts;
    - ``forward``: earliest right row with ts >= left.ts;
    - ``nearest``: whichever of the two is closer in |Δts| (ties ->
      backward, the pandas rule);
    - ``tolerance``: null the attach when |left.ts - right.ts| exceeds
      it (same units as ts).

    Spark shape: NOT a join.  Tag both sides, union, and take
    ``last(..., ignorenulls)`` over one window partitioned by key and
    ordered by (ts, side, tiebreak) — right rows sort before left rows
    at equal ts, which implements the ``<=`` bound; ``forward`` is the
    same window over descending ts; ``nearest`` runs both windows over
    ONE shuffle (same partitioning: Catalyst plans the second ordering
    as an extra sort, not an extra exchange) and picks per row.  No
    range explode, no per-row probe: the standard scale shape for
    temporal state attach.  Works on any orderable numeric ts (here:
    nanosecond longs).
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"unknown asof direction: {direction!r}")
    rtag = right.select(
        *[F.col(c) for c in key_cols],
        F.col(ts_col),
        F.col(tiebreak_col).alias("_tb"),
        F.lit(0).alias("_side"),
        F.col(ts_col).alias(f"_rts{suffix}"),
        *[F.col(c).alias(f"{c}{suffix}") for c in attach_cols],
    )
    lcols = [c for c in left.columns]
    ltag = left.select(
        *[F.col(c) for c in lcols],
        F.col(tiebreak_col).alias("_tb"),
        F.lit(1).alias("_side"),
        F.lit(None).cast(rtag.schema[f"_rts{suffix}"].dataType).alias(f"_rts{suffix}"),
        *[F.lit(None).cast(rtag.schema[f"{c}{suffix}"].dataType).alias(f"{c}{suffix}") for c in attach_cols],
    )
    unioned = ltag.unionByName(rtag, allowMissingColumns=True)

    def attach_over(order_cols, tag):
        w = (
            Window.partitionBy(*key_cols)
            .orderBy(*order_cols)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        out = unioned
        for c in [f"_rts{suffix}", *[f"{c}{suffix}" for c in attach_cols]]:
            out = out.withColumn(
                f"{c}{tag}", F.last(c, ignorenulls=True).over(w)
            )
        return out

    back_order = [F.col(ts_col).asc(), F.col("_side").asc(), F.col("_tb").asc()]
    # forward: descending ts; right still first at equal ts (>= bound),
    # and the tiebreak DESC so the last-seen right row is the SMALLEST
    # (tb-ordered) among equal-ts candidates, mirroring backward's pick
    fwd_order = [F.col(ts_col).desc(), F.col("_side").asc(), F.col("_tb").desc()]

    if direction == "backward":
        attached = attach_over(back_order, "")
    elif direction == "forward":
        attached = attach_over(fwd_order, "")
    else:  # nearest: both passes over one shuffle, pick per row
        attached = attach_over(back_order, "_b")
        w = (
            Window.partitionBy(*key_cols)
            .orderBy(*fwd_order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        for c in [f"_rts{suffix}", *[f"{c}{suffix}" for c in attach_cols]]:
            attached = attached.withColumn(
                f"{c}_f", F.last(f"{c}", ignorenulls=True).over(w)
            )
        d_b = F.col(ts_col) - F.col(f"_rts{suffix}_b")
        d_f = F.col(f"_rts{suffix}_f") - F.col(ts_col)
        use_b = F.col(f"_rts{suffix}_f").isNull() | (
            F.col(f"_rts{suffix}_b").isNotNull() & (d_b <= d_f)
        )
        for c in [f"_rts{suffix}", *[f"{c}{suffix}" for c in attach_cols]]:
            attached = attached.withColumn(
                c, F.when(use_b, F.col(f"{c}_b")).otherwise(F.col(f"{c}_f"))
            )
    if tolerance is not None:
        delta = F.abs(F.col(ts_col) - F.col(f"_rts{suffix}"))
        for c in attach_cols:
            attached = attached.withColumn(
                f"{c}{suffix}",
                F.when(delta <= tolerance, F.col(f"{c}{suffix}")),
            )
        attached = attached.withColumn(
            f"_rts{suffix}", F.when(delta <= tolerance, F.col(f"_rts{suffix}"))
        )
    return attached.where(F.col("_side") == 1).select(
        *lcols, *[f"{c}{suffix}" for c in attach_cols]
    )


def salted_join(
    facts: DataFrame,
    dim: DataFrame,
    key_cols: list[str],
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-mitigating equi-join: spread each hot join key over
    ``n_salts`` shuffle partitions.

    A plain shuffle join sends EVERY row of a hot key to one reducer —
    the classic straggler at 100 TB (one gene with pathological probe
    counts, one dup-cluster band bucket holding half the corpus).  Here
    the fact side gets a deterministic per-row salt
    (xxhash64 of all columns, mod n_salts) and the dim side is
    replicated n_salts times, so the join key becomes
    (key, salt) and each hot key fans out across n_salts reducers.
    Cost: dim rows x n_salts (dims here are O(10^3-10^6) rows — cheap
    vs a straggler).  For ``inner``/``left``/``left_semi`` the result
    is row-identical to the unsalted join; right/full-outer would emit
    each UNMATCHED dim row n_salts times (the replicas only collapse
    when matched), so those modes are rejected.

    Complements AQE's skew-join splitting (PLANS.md): AQE only splits
    SORT-MERGE join partitions after the fact; salting also covers
    aggregate-then-join shapes and makes the spread explicit in the
    plan.
    """
    if how.replace("outer", "").strip("_") not in ("inner", "left", "leftsemi", "left_semi", "semi"):
        raise ValueError(
            f"salted_join supports inner/left/left_semi, not {how!r}: "
            "unmatched dim rows would be replicated n_salts times"
        )
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in facts.columns]), F.lit(n_salts))
    fs = facts.withColumn("_salt", salt.cast("int"))
    ds = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return fs.join(ds, key_cols + ["_salt"], how).drop("_salt")
