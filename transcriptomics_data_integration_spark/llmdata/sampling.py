"""Deterministic sampling for training-data pipelines.

`rand()`-based sampling is not reproducible across retries, partitions,
or engines; at 100 TB a failed stage re-rolls its rows.  Both operators
here key the decision on a content hash (md5-derived 60-bit integer,
the same primitive as the dedup family), so the sample is a pure
function of the data: stable under retries, re-partitioning, engine
swap (DuckDB computes the identical hash), and incremental reruns.

- ``hash_sample``: Bernoulli p-sampling — keep rows whose hash falls
  under p * 2^60.  One scan, no shuffle, no state.
- ``stratified_sample_exact``: exactly n rows per group — rank rows
  within each group by hash (deterministic tie-break on the key) and
  keep the first n.  One shuffle on the group key; the rank window
  input is the group's rows, never the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from transcriptomics_data_integration_spark.llmdata.dedup import _md5_60bit
from transcriptomics_data_integration_spark.operators.windows import Scan, ordered_scan

_HASH_SPACE = float(1 << 60)
# the top 10 bits of a 60-bit hash: 1024 equal-width buckets
_BUCKET_WIDTH = 1 << 50


def _hash_bucket(hash_60bit: str) -> Column:
    return F.expr(f"CAST({hash_60bit} DIV {_BUCKET_WIDTH} AS INT)")


def hash_sample(df: DataFrame, key_col: str, rate: float) -> DataFrame:
    """Deterministic Bernoulli sample: keep rows with
    md5_60bit(key) < rate * 2^60.  The hash is uniform on [0, 2^60), so
    the kept fraction converges to ``rate``; membership is decided by
    the key alone."""
    return df.where(_md5_60bit(F.col(key_col).cast("string")) < int(rate * _HASH_SPACE))


def stratified_sample_exact(
    df: DataFrame, group_col: str, key_col: str, n_per_group: int
) -> DataFrame:
    """Exactly ``n_per_group`` rows per group (fewer if the group is
    smaller), chosen by hash order — a deterministic "shuffle" that
    needs no seed bookkeeping.  The classic balance step (equal docs
    per language / per source) of a corpus-construction pipeline."""
    w = Window.partitionBy(group_col).orderBy(
        _md5_60bit(F.col(key_col).cast("string")).asc(), F.col(key_col).asc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= n_per_group)
        .drop("_rn")
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    seq_len: int,
    order_col: str | None = None,
) -> DataFrame:
    """Concat-and-chunk sequence packing: lay documents end-to-end in
    ``order_col`` order and cut the token stream into fixed
    ``seq_len`` windows — the standard packing step that turns a corpus
    into training sequences with zero padding waste.

    Output: one row per (document, sequence) overlap —
    ``(id, seq_id, doc_offset, seq_offset, n_tokens)`` — a document
    longer than a sequence spans several rows; short documents share a
    sequence.  Pure window + explode arithmetic: a prefix sum places
    each document in the global token stream, and the spanned sequence
    ids enumerate with ``sequence()``.

    Scale: the prefix sum is an exclusive ``ordered_scan`` (its arms:
    ``operators/windows.py``); a non-numeric ``order_col`` always takes
    the single window (cap the input, or pre-map the key to a numeric
    rank).  Zero-token documents are dropped (they occupy no stream
    positions).
    """
    order = order_col or id_col
    live = df.where(F.col(tokens_col) > 0)
    placed = (
        ordered_scan(live, [order], [Scan("_start", "sum", tokens_col, "exclusive")])
        .withColumn("_start", F.coalesce(F.col("_start"), F.lit(0)))
        .withColumn("_end", F.col("_start") + F.col(tokens_col))
    )
    spanned = placed.withColumn(
        "seq_id",
        F.explode(
            F.sequence(
                F.floor(F.col("_start") / seq_len),
                F.floor((F.col("_end") - 1) / seq_len),
            )
        ),
    )
    ov_start = F.greatest(F.col("_start"), F.col("seq_id") * seq_len)
    ov_end = F.least(F.col("_end"), (F.col("seq_id") + 1) * seq_len)
    return spanned.select(
        F.col(id_col),
        F.col("seq_id").cast("long"),
        (ov_start - F.col("_start")).alias("doc_offset"),
        (ov_start - F.col("seq_id") * seq_len).alias("seq_offset"),
        (ov_end - ov_start).alias("n_tokens"),
    )


def mixture_sample(
    df: DataFrame,
    source_col: str,
    key_col: str,
    target_fracs: dict[str, float],
) -> DataFrame:
    """Data-mixture construction: downsample each source toward target
    proportions, deterministically.

    For source s with n_s rows in a corpus of N, the kept fraction is
    ``min(1, target_frac_s * N / n_s)`` — sources over their target
    shrink, sources under it pass through (no upsampling).  Membership
    is the md5-hash rule of :func:`hash_sample`, so the mixture is
    reproducible and incremental.  The rates dim is |sources| rows,
    computed IN-PLAN (no driver collect) and broadcast back.
    """
    # the target mixture rides the plan as a literal map — fine for
    # the realistic O(10-100) source counts; beyond that the expression
    # tree itself becomes the bottleneck, so fail loudly (at that scale
    # the fracs belong in a broadcast-joined dim table)
    if len(target_fracs) > 1000:
        raise ValueError(
            f"mixture_sample takes the target mixture as a literal map; "
            f"{len(target_fracs)} sources would inline a pathological "
            "expression — pass the fracs as a DataFrame and join instead"
        )
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("_n"))
    frac = F.create_map(
        *[F.lit(x) for kv in target_fracs.items() for x in kv]
    )[F.col(source_col)]
    # corpus total via an unpartitioned window over the |sources|-row
    # aggregate — avoids a 1-row cross join (BNLJ) entirely
    total = F.sum("_n").over(Window.partitionBy())
    rates = counts.select(
        source_col,
        F.least(
            F.lit(1.0),
            F.coalesce(frac, F.lit(0.0)) * total / F.col("_n"),
        ).alias("_rate"),
    )
    keyed = df.join(F.broadcast(rates), source_col)
    h = _md5_60bit(F.col(key_col).cast("string")).cast("double")
    return keyed.where(h < F.col("_rate") * F.lit(_HASH_SPACE)).drop("_rate")


def token_budget_sample(
    df: DataFrame,
    source_col: str,
    key_col: str,
    budgets: dict[str, int],
    text_col: str = "text",
    default_budget: int = 0,
) -> DataFrame:
    """Token-budget mixture construction (r6) — how production
    pretraining mixes are actually specified: per SOURCE, keep
    documents in deterministic md5-priority order until the source's
    TOKEN budget is exhausted (docs are whole: the first doc whose
    inclusion would overflow the budget, and everything after it, is
    dropped).  Sources absent from ``budgets`` get ``default_budget``.

    vs :func:`mixture_sample`: that op targets row PROPORTIONS; this
    op targets absolute token VOLUMES — the unit LM training plans are
    written in.

    Plan shape: one token count per doc (map-side split), a
    cumulative-sum over the md5 priority per source, and a literal
    budget map.  Deterministic and engine-exact: integer token counts,
    integer cumulative sums, md5-hex priority with key tiebreak.

    Scale: the per-source cumulative sum is an ``ordered_scan`` (its
    arms: ``operators/windows.py``) bucketed by the top 10 bits of the
    md5 priority's 60-bit prefix (fixed uniform domain, no bounds pass;
    fixed-length lowercase hex: numeric prefix order == string order).
    """
    if len(budgets) > 1000:
        raise ValueError(
            "token_budget_sample takes budgets as a literal map; "
            f"{len(budgets)} sources would inline a pathological "
            "expression — pass a DataFrame dim and join instead"
        )
    n_tok = F.size(F.split(F.trim(F.col(text_col)), " "))
    pri = F.md5(F.concat_ws("#", F.col(source_col), F.col(key_col).cast("string")))
    budget = F.coalesce(
        F.create_map(*[F.lit(x) for kv in budgets.items() for x in kv])[
            F.col(source_col)
        ],
        F.lit(default_budget),
    ).cast("long")
    scored = df.withColumn("_n_tok", n_tok.cast("long")).withColumn("_pri", pri)
    cum = ordered_scan(
        scored,
        ["_pri", key_col],
        [Scan("_cum", "sum", "_n_tok")],
        partition_by=[source_col],
        # integer DIV: 60-bit prefix values exceed double's 53-bit
        # mantissa, so float division could wobble at boundaries
        bucket=_hash_bucket("CAST(conv(substring(_pri, 1, 15), 16, 10) AS BIGINT)"),
    )
    out = (
        cum.withColumn("_budget", budget)
        # a doc is kept iff the budget survives THROUGH it — whole-doc
        # semantics; once one doc overflows, all later (lower-priority)
        # docs of that source have _cum > budget too (counts are >= 0),
        # so the kept set is a clean priority prefix
        .where(F.col("_cum") <= F.col("_budget"))
        .select(
            key_col,
            source_col,
            F.col("_n_tok").alias("n_tokens"),
            F.col("_cum").alias("cum_tokens"),
        )
    )
    return out


def leakage_safe_split(
    docs: DataFrame,
    clusters: DataFrame | None,
    id_col: str = "doc_id",
    val_frac: float = 0.1,
    salt: str = "split",
) -> DataFrame:
    """Train/validation split that CANNOT leak near-duplicates across
    the boundary: membership is hashed on the doc's DEDUP-CLUSTER key
    (the ``canonical_id`` from :func:`llmdata.dedup.dedup_clusters`),
    not the doc id, so every member of a near-dup cluster lands on the
    same side — the split discipline that keeps eval perplexity honest
    (a val doc whose twin sits in train is a leaked answer).

    ``clusters`` may be None (or miss docs): unclustered docs are
    their own key.  Assignment = md5_60bit(salt # key) < val_frac*2^60
    — the :func:`hash_sample` rule, so splits are deterministic,
    engine-reproducible, and stable under corpus growth (adding docs
    never flips existing assignments; a NEW near-dup merging two
    clusters is a re-dedup event, which re-keys that cluster only).

    Plan shape: one broadcast-or-shuffle left join onto the (small)
    cluster decision table + map-side hash arithmetic.  Output: every
    input row with ``cluster_key`` and ``split`` ('train'/'val').
    """
    if clusters is not None:
        cl = clusters.select(
            F.col("doc_id").alias(id_col) if "doc_id" in clusters.columns
            and id_col not in clusters.columns else F.col(id_col),
            "canonical_id",
        )
        joined = docs.join(cl, id_col, "left")
        key = F.coalesce(F.col("canonical_id"), F.col(id_col))
    else:
        joined = docs
        key = F.col(id_col)
    h = _md5_60bit(F.concat_ws("#", F.lit(salt), key.cast("string")))
    return (
        joined.withColumn("cluster_key", key)
        .withColumn(
            "split",
            F.when(h < int(val_frac * _HASH_SPACE), F.lit("val")).otherwise(
                F.lit("train")
            ),
        )
        .drop("canonical_id")
    )


def temperature_sample(
    df: DataFrame,
    source_col: str,
    key_col: str,
    total_docs: int,
    alpha: float = 0.5,
    tick_scale: int = 6,
) -> DataFrame:
    """Temperature-based mixture sampling — the alpha-smoothed source
    allocation of multilingual/multi-source LM training (mT5/T5-style:
    p_s proportional to n_s^alpha; alpha=1 keeps natural proportions,
    alpha->0 flattens toward uniform, the standard fix for head
    sources drowning the tail).  Allocates ``total_docs`` across
    sources as k_s = floor(total_docs * w_s / sum(w)), with
    w_s = floor(n_s^alpha * 10^tick_scale + 0.5) — the tick-quantized
    INTEGER weight, so the allocation arithmetic is order-independent
    and engine-exact (the combat_eb2 tick precedent; a raw double
    sum over sources would be summation-order-dependent) — then a
    largest-remainder completion pass (r8): the floors undershoot
    ``total_docs`` by up to |sources|-1, so the shortfall is handed
    +1 each to the largest allocation remainders (source-name
    tiebreak), making the allocations sum EXACTLY to ``total_docs``.
    (Kept rows can still fall short when a source holds fewer than
    k_s docs — allocation is exact, corpus size is a cap.)  Within a
    source, the k_s survivors are the md5-priority prefix (the
    :func:`stratified_sample_exact` rank rule) — deterministic,
    retry-stable, SQL-replayable.

    Plan shape: one |sources|-row count aggregate -> integer weight /
    allocation arithmetic on that dim (an unpartitioned window over
    |sources| rows for sum(w), no BNLJ) -> broadcast join of k_s back
    to the fact -> per-source md5 rank, an ``ordered_scan`` bucketed by
    the hash's top 10 bits (its arms: ``operators/windows.py``).

    Output: the kept rows plus ``k_target`` (the source's allocation)
    and ``rk`` (the doc's priority rank).
    """
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("_n"))
    tick = float(10**tick_scale)
    w_ticks = F.floor(
        F.pow(F.col("_n").cast("double"), F.lit(float(alpha))) * tick + F.lit(0.5)
    ).cast("long")
    dim = counts.withColumn("_w", w_ticks)
    wsum = F.sum("_w").over(Window.partitionBy())
    # allocation in pure LONG arithmetic with integer DIV — exact
    # floor in both engines (decimal division truncates at a capped
    # scale and can misround quotients that land near integers).
    # Caller contract: total_docs * max_w must fit int64 — lower
    # tick_scale for extreme corpora (weights keep ~tick_scale
    # significant digits either way).
    alloc0 = dim.select(
        source_col,
        F.expr(f"CAST({int(total_docs)} AS BIGINT) * _w").alias("_num"),
        wsum.alias("_den"),
    ).select(
        source_col,
        F.expr("_num DIV _den").alias("_k0"),
        F.expr("_num % _den").alias("_rem"),
    )
    # largest-remainder completion: shortfall = sum(rem)/den <
    # count(rem > 0), so only positive-remainder sources are ever
    # bumped; both windows run on the |sources|-row dim.
    w_all = Window.partitionBy()
    alloc = (
        alloc0.withColumn(
            "_short", F.lit(int(total_docs)) - F.sum("_k0").over(w_all)
        )
        .withColumn(
            "_rr",
            F.row_number().over(
                Window.partitionBy().orderBy(
                    F.col("_rem").desc(), F.col(source_col).asc()
                )
            ),
        )
        .select(
            source_col,
            (
                F.col("_k0")
                + (F.col("_rr") <= F.col("_short")).cast("long")
            ).alias("k_target"),
        )
    )
    keyed = df.join(F.broadcast(alloc), source_col).withColumn(
        "_h", _md5_60bit(F.col(key_col).cast("string"))
    )
    ranked = ordered_scan(
        keyed,
        ["_h", key_col],
        [Scan("rk", "row_number")],
        partition_by=[source_col],
        bucket=_hash_bucket("_h"),
    )
    return (
        ranked.withColumn("rk", F.col("rk").cast("long"))
        .where(F.col("rk") <= F.col("k_target"))
        .drop("_h")
    )


def global_shuffle(df: DataFrame, key_col: str) -> DataFrame:
    """Deterministic global corpus shuffle (r7) — the "shuffle the
    training data" step, made a pure function of the data: every row
    gets ``shuffle_pos`` (0-based), its position in md5-hash order
    with the key as tiebreak.  Reproducible across retries, engines,
    and partitionings (no seed bookkeeping, no rand()); stable
    pagination (consumers can read any position range).

    Scale: a global ORDER BY rank is the canonical single-task trap; the
    rank is an ``ordered_scan`` bucketed by the hash's top 10 bits (its
    arms: ``operators/windows.py``).
    """
    keyed = df.withColumn("_h", _md5_60bit(F.col(key_col).cast("string")))
    pos = Scan("shuffle_pos", "row_number", frame="exclusive")
    ranked = ordered_scan(keyed, ["_h", key_col], [pos], bucket=_hash_bucket("_h"))
    return ranked.withColumn("shuffle_pos", F.col("shuffle_pos").cast("long")).drop("_h")


def repetition_schedule(
    df: DataFrame,
    id_col: str,
    bucket_col: str,
    epochs_per_bucket: dict[int, int],
) -> DataFrame:
    """Quality-weighted repetition schedule (r8) — the data-constrained
    scaling move (repeat high-quality data more epochs than low; the
    public Muennighoff et al. 2023 recipe): each doc is emitted
    ``epochs_per_bucket[bucket]`` times with an ``epoch`` index, and
    every emission gets a deterministic global ``train_pos`` — its
    position in md5(key#epoch) order — so the repeated copies of a doc
    are SPREAD across the training stream rather than adjacent (the
    property epoch-wise shuffling gives, without materializing epochs
    separately).

    Relational shape: the bucket->epochs map is a literal CASE (tiny,
    in-plan), the fan-out is one ``explode(sequence(1, n_epochs))``
    (conditional repartition upstream applies — the one-split trap),
    and train_pos is :func:`global_shuffle`'s rank, so nothing is
    single-task at any corpus size.  Docs whose bucket is absent from
    the map get 0 epochs (dropped) — the "discard tail bucket"
    convention.

    Output: (id, bucket, epoch, train_pos).
    """
    mapping = "CASE " + " ".join(
        f"WHEN {bucket_col} = {int(b)} THEN {int(e)}"
        for b, e in sorted(epochs_per_bucket.items())
    ) + " ELSE 0 END"
    fanned = (
        df.select(F.col(id_col), F.col(bucket_col))
        .withColumn("_n_ep", F.expr(mapping))
        .where(F.col("_n_ep") > 0)
        .select(
            id_col,
            bucket_col,
            F.explode(F.expr("sequence(1, _n_ep)")).alias("epoch"),
        )
        .withColumn(
            "_key", F.concat_ws("#", F.col(id_col).cast("string"), F.col("epoch").cast("string"))
        )
    )
    shuffled = global_shuffle(fanned, "_key")
    return shuffled.select(
        id_col, bucket_col, "epoch", F.col("shuffle_pos").alias("train_pos")
    )


def dsir_logweights(
    df: DataFrame,
    id_col: str,
    target_col: str,
    text_col: str = "text",
    n_buckets: int = 1024,
) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al.
    2023, public): score every document in a raw pool by how much its
    hashed-n-gram distribution looks like a TARGET distribution
    (`target_col`, boolean — e.g. curated wiki/books docs), so a
    downstream sampler can pull raw data that matches the target
    domain.

    Features are the paper's hashing trick: token -> md5-60-bit hash
    -> one of ``n_buckets`` buckets.  Bucket unigram models are fit
    with Laplace smoothing on the target and raw (non-target) halves,
    and each doc scores

        logweight = sum_tokens ln( p_target(bucket) / p_raw(bucket) )

    with  p(b) = (c_b + 1) / (T + V)  — so the per-bucket log-ratio is

        ln( ((ct_b + 1) * (Tr + V)) / ((cr_b + 1) * (Tt + V)) )

    ONE ln() of a BIGINT-rational (identical operands in any engine);
    the per-doc sum rounds downstream per repo FP policy.

    Plan shape: one token explode aggregated straight to the
    ``n_buckets``-row model dim (conditional sums split target/raw);
    totals ride a 1-row broadcast attach onto that dim, never the
    stream; the scored stream is one broadcast equi-join on bucket +
    one doc-keyed aggregation.  At 100 TB the only corpus-sized
    shuffle is the final doc groupBy (the explode aggregates
    map-side-combine into <= n_buckets rows per task).

    Output: (id, is_target, n_toks, logweight) — selection policy
    (top-k, percentile threshold, Gumbel resampling) is the caller's;
    see the suite gate for the percentile-threshold form.
    """
    toks = F.expr(
        f"filter(split(lower({text_col}), '[^a-z0-9]+'), x -> x <> '')"
    )
    base = df.select(
        F.col(id_col),
        F.col(target_col).cast("boolean").alias("_is_target"),
        toks.alias("_toks"),
    )
    # counts-first: ONE explode/md5 pass, aggregated straight to
    # per-(doc, bucket) counts (map-side combinable) — the model dim
    # re-aggregates that relation and the scoring join carries
    # <= distinct-buckets-per-doc rows per doc instead of the full
    # token stream twice (measured r8: the two-pass form re-ran the
    # explode + 80 M md5 calls for the scoring side; PLANS.md)
    counts = (
        base.select(id_col, "_is_target", F.explode("_toks").alias("_tok"))
        .withColumn("_bucket", _md5_60bit(F.col("_tok")) % n_buckets)
        .groupBy(id_col, "_is_target", "_bucket")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    model = counts.groupBy("_bucket").agg(
        F.sum(F.when(F.col("_is_target"), F.col("_n")).otherwise(0)).alias("ct"),
        F.sum(F.when(F.col("_is_target"), 0).otherwise(F.col("_n"))).alias("cr"),
    )
    totals = model.agg(
        F.sum("ct").alias("Tt"), F.sum("cr").alias("Tr")
    )
    lw = model.join(F.broadcast(totals)).select(
        "_bucket",
        F.log(
            ((F.col("ct") + 1) * (F.col("Tr") + n_buckets)).cast("double")
            / ((F.col("cr") + 1) * (F.col("Tt") + n_buckets)).cast("double")
        ).alias("_lw"),
    )
    scored = (
        counts.join(F.broadcast(lw), "_bucket")
        .groupBy(id_col, "_is_target")
        .agg(
            F.sum("_n").cast("bigint").alias("n_toks"),
            F.sum(F.col("_lw") * F.col("_n")).alias("logweight"),
        )
    )
    # token-less docs vanish in the explode — left-join the aggregate
    # back to the full id pool and emit (n_toks=0, logweight=0.0) so
    # callers joining weights back never silently lose ids (r8 ADVICE)
    return (
        base.select(id_col, "_is_target")
        .join(scored, [id_col, "_is_target"], "left")
        .select(
            id_col,
            F.col("_is_target").alias("is_target"),
            F.coalesce(F.col("n_toks"), F.lit(0).cast("bigint")).alias("n_toks"),
            F.coalesce(F.col("logweight"), F.lit(0.0)).alias("logweight"),
        )
    )


def pack_bins_nfd(
    df: DataFrame,
    id_col: str,
    n_tokens_col: str,
    seq_len: int,
    n_buckets: int = 32,
) -> DataFrame:
    """No-split sequence packing by next-fit-decreasing (r8) — the
    packing mode for objectives that forbid cutting a document across
    sequences (contrastive pairs, instruction tuning, long-context
    curricula): whole docs are grouped into bins of capacity
    ``seq_len``; a doc longer than ``seq_len`` gets a singleton
    overflow bin (flagged ``truncated`` — the caller decides whether
    to clip or drop).  Within each deterministic md5 bucket, docs are
    sorted by (n_tokens DESC, id) and packed next-fit: a bin closes
    when the next doc does not fit.  NFD is the classic bounded-waste
    approximation one step up from concat-and-chunk
    (:func:`pack_sequences` splits docs; this never does) while
    staying SEQUENTIALLY REPLAYABLE — its single running (bin, fill)
    state threads through a DuckDB recursive CTE, so the whole layout
    is hash-gateable (true first-fit-decreasing keeps every open bin
    live and is not).

    Scale shape: packing is inherently sequential PER STREAM, so the
    corpus is sharded into ``n_buckets`` independent md5-keyed streams
    (each task packs ~1/n_buckets of the docs — raise n_buckets with
    corpus size) and the sequential walk runs as one Arrow
    applyInPandas per bucket.  Bin ids are globally unique as
    (bucket, bin_in_bucket).

    Output: (id, bucket, bin_in_bucket, pos_in_bin, bin_fill,
    truncated).
    """
    import pandas as pd

    from pyspark.sql.types import (
        BooleanType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(n_tokens_col).cast("long").alias("_n"),
        (_md5_60bit(F.col(id_col).cast("string")) % n_buckets).alias("bucket"),
    )

    schema = StructType(
        [
            StructField("_id", LongType()),
            StructField("bucket", LongType()),
            StructField("bin_in_bucket", LongType()),
            StructField("pos_in_bin", IntegerType()),
            StructField("bin_fill", LongType()),
            StructField("truncated", BooleanType()),
        ]
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["_n", "_id"], ascending=[False, True])
        out = []
        bin_id, fill, pos = -1, 0, 0
        for _id, n, bucket in zip(pdf["_id"], pdf["_n"], pdf["bucket"]):
            if n >= seq_len:
                # overflow singleton bin; current open bin stays open
                # only in FFD — NFD closes it for replayability
                bin_id += 1
                out.append((_id, bucket, bin_id, 0, n, n > seq_len))
                fill, pos = seq_len, 1  # force a fresh bin next
                continue
            if fill + n > seq_len or bin_id < 0:
                bin_id += 1
                fill, pos = 0, 0
            out.append((_id, bucket, bin_id, pos, fill + n, False))
            fill += n
            pos += 1
        return pd.DataFrame(
            out,
            columns=[
                "_id", "bucket", "bin_in_bucket", "pos_in_bin",
                "bin_fill", "truncated",
            ],
        )

    return (
        base.groupBy("bucket")
        .applyInPandas(pack, schema)
        .select(
            F.col("_id").alias(id_col),
            "bucket",
            "bin_in_bucket",
            "pos_in_bin",
            "bin_fill",
            "truncated",
        )
    )
