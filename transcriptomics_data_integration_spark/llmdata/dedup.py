"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Hashing is md5-based (both Spark and DuckDB expose md5 with identical
output), with a 60-bit integer derived from the first 15 hex chars, so
signatures are bit-identical across engines and the DuckDB oracle can
verify the whole pipeline.

Scale notes (the reason each variant exists):

- ``exact_dedup``: one hash-shuffle on digest. Works at any scale.
- ``ngram_jaccard_pairs``: exact pairwise Jaccard via shingle inverted
  index — O(sum of postings^2) worst case; the quadratic baseline.
  Use only within small candidate buckets.
- ``minhash_signatures`` + ``lsh_candidates``: the scale path.  k
  min-hashes per doc (one shuffle), banded into b bands; docs sharing a
  band bucket are candidates (equi-join on band hash — linear-ish when
  near-dup clusters are bounded).  Candidates are then verified with
  exact Jaccard.
- ``simhash``: 60-bit weighted-bit signature; equal or near-equal
  signatures (banded) find near-dups with one shuffle.
"""

from __future__ import annotations

import re
import time
import warnings

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, IntegralType, StringType

from transcriptomics_data_integration_spark.operators.windows import estimated_plan_bytes
from transcriptomics_data_integration_spark.runtime import register_persisted

SHINGLE_LEN = 5
N_HASHES = 16
N_BANDS = 4  # 4 rows per band
SIMHASH_BITS = 60


# the repo-standard 60-bit hash as a SQL-expression template, for call
# sites that build string expressions (lambda bodies inside HOFs);
# _md5_60bit below is the same recipe as a Column function.  DuckDB
# twin: ('0x' || substring(md5(x), 1, 15))::BIGINT.
MD5_60BIT_SQL = (
    "CAST(conv(substring(md5(CAST({arg} AS BINARY)), 1, 15), 16, 10) AS BIGINT)"
)


def _md5_60bit(col: Column) -> Column:
    """First 60 bits of md5 as a non-negative bigint — identical in
    DuckDB via ('0x' || substring(md5(x), 1, 15))::BIGINT."""
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, 15), 16, 10).cast("bigint")


# --- MinHash seed family: four 30-bit lanes per md5 (r9) ----------------
#
# The r8 recipe hashed md5(shingle || '#' || seed) once per (shingle,
# seed) — 16 md5 calls AND 16 hex->int conversions per posting on the
# hottest dedup path (the incremental index build measured ~0.9 G md5
# per 200k batch, PLANS.md r8b).  r9 quarters both: each md5 digest is
# 128 bits, read as two 60-bit words (one conv each), each split into
# two 30-bit halves by integer DIV/MOD:
#
#     hex_k  = md5(shingle || '#' || k)            k = 0 .. ceil(n/4)-1
#     w_{2k}   = int(hex_k[ 0:15], 16)             chars 1-15
#     w_{2k+1} = int(hex_k[15:30], 16)             chars 16-30
#     h_j = w_{j//2} DIV 2^30   (j even)           hi 30 bits
#           w_{j//2} MOD 2^30   (j odd)            lo 30 bits
#
# Distinct bit ranges of a strong hash are statistically independent,
# so every LSH property (band false-positive rate J^r, estimator
# variance J(1-J)/n; 30-bit min values add only ~n/2^30 spurious
# equality per seed) is what the 16-md5 recipe gave — unlike
# ARITHMETIC seed mixing: a Kirsch–Mitzenmacher A/B
# (h_j = (h1 + j*h2) mod 2^60, PLANS.md r9 seed-family rework) made
# h_j AFFINE in j, so the 4 rows of a band were order-correlated (a
# shingle winning the min at seed j keeps winning at j+1..j+3), band
# match probability collapsed from J^4 toward J, and the incremental
# verify join exploded at the 1 M-doc probe (ENOSPC, then a stuck
# 32-task stage).  Verified pairs stayed correct (exact-Jaccard
# verification is recipe-independent) — the failure is a SCALE
# failure, invisible on the dup-storm gate corpora.  Lanes of one
# digest carry no such structure.  Measured on 30M rows (PLANS.md r9):
# r8 recipe 18.9 s, two-60-bit-lane variant 13.4 s, THIS family 8.0 s
# (2.4x), broken-KM lower bound 2.3 s.
#
# The exact-Jaccard verify sets use ``sid`` = w_0 undivided (60-bit,
# chars 1-15 of digest 0) — already computed, and a set-membership id
# has no cross-seed independence requirement.  DuckDB twin per
# (shingle, seed), with w = ('0x' || substring(md5(shingle || '#' ||
# CAST(seed // 4 AS VARCHAR)), 1 + 15 * ((seed // 2) % 2), 15))::BIGINT:
#   CASE WHEN seed % 2 = 0 THEN w // 1073741824 ELSE w % 1073741824 END

_MINHASH_SPLIT = 1 << 30


def _minhash_words(shingle: Column, n_hashes: int) -> list[Column]:
    """The ceil(n/2) 60-bit words (two per md5 digest) feeding the
    30-bit lane family — one conv per word, one md5 per two words."""
    words = []
    for k in range((n_hashes + 3) // 4):
        d = F.md5(F.concat_ws("#", shingle, F.lit(k)).cast("binary"))
        words.append(F.conv(F.substring(d, 1, 15), 16, 10).cast("bigint"))
        words.append(F.conv(F.substring(d, 16, 15), 16, 10).cast("bigint"))
    return words[: (n_hashes + 1) // 2]


def _minhash_half(word_name: str, j: int) -> Column:
    """30-bit half j%2 of the named 60-bit word column."""
    if j % 2 == 0:
        return F.expr(f"{word_name} DIV {_MINHASH_SPLIT}")
    return F.col(word_name) % _MINHASH_SPLIT


def content_digest(col: Column) -> Column:
    return F.md5(col.cast("binary"))


def exact_dedup(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Exact content dedup: group by md5(text), keep the smallest id as
    canonical, report group size.  One partial+final hash aggregation.
    """
    return (
        df.select(F.col(id_col), content_digest(F.col(text_col)).alias("digest"))
        .groupBy("digest")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _jaccard() -> Column:
    """Jaccard from the integer counts ``n_inter``, ``n_a``, ``n_b`` — one
    IEEE division, so bit-identical across engines."""
    return F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))


def _set_counts(set_a: str, set_b: str) -> list[Column]:
    """``n_inter``, ``n_a``, ``n_b`` of two shingle-id set columns."""
    return [
        F.size(F.array_intersect(set_a, set_b)).alias("n_inter"),
        F.size(set_a).alias("n_a"),
        F.size(set_b).alias("n_b"),
    ]


def shingles(df: DataFrame, id_col: str, text_col: str = "text", k: int = SHINGLE_LEN) -> DataFrame:
    """Distinct character k-shingles per document (posting list)."""
    expr = (
        f"array_distinct(transform(sequence(1, greatest(length({text_col}) - {k - 1}, 1)), "
        f"i -> substr({text_col}, i, {k})))"
    )
    return df.select(
        F.col(id_col), F.explode(F.expr(expr)).alias("shingle")
    )


def _shingle_overlaps(sh: DataFrame, id_col: str) -> DataFrame:
    """(id_a, id_b, n_a, n_b, n_inter) for every pair (id_a < id_b)
    sharing a shingle of the posting relation ``sh``.  Each posting
    carries its doc's set size from a window on ``id_col``, so the
    inverted-index self-join yields both sizes and no sizes relation
    is joined back; both join sides read the same exchange."""
    sized = sh.withColumn("_n", F.count(F.lit(1)).over(Window.partitionBy(id_col)))
    a = sized.select(F.col(id_col).alias("id_a"), "shingle", F.col("_n").alias("n_a"))
    b = sized.select(F.col(id_col).alias("id_b"), "shingle", F.col("_n").alias("n_b"))
    return (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = SHINGLE_LEN,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact pairwise n-gram Jaccard via inverted index: explode
    distinct shingles, self-join on shingle (a < b), count shared
    shingles, Jaccard = inter / (|A| + |B| - inter).

    inter/union are integers, so the ratio is a single IEEE division —
    bit-identical across engines.
    """
    out = (
        _shingle_overlaps(shingles(df, id_col, text_col, k), id_col)
        .withColumn("jaccard", _jaccard())
        .where(F.col("jaccard") >= threshold)
    )
    return out.select("id_a", "id_b", "n_inter", "n_a", "n_b", "jaccard")


def minhash_from_shingles(
    sh: DataFrame, id_col: str, n_hashes: int = N_HASHES
) -> DataFrame:
    """MinHash signatures, long form (id, seed, minhash), from a prebuilt
    (id, shingle) posting relation — the entry point for callers that
    also read the postings for sizes or verification
    (:func:`minhash_accuracy`)."""
    # ceil(n/4) md5 digests per DISTINCT shingle (before the seed
    # explode), four 30-bit lanes each — md5 + conv are the expensive
    # parts and both are per-word, not per-seed
    dim = sh.select("shingle").distinct()
    words = _minhash_words(F.col("shingle"), n_hashes)
    for w, c in enumerate(words):
        dim = dim.withColumn(f"_w{w}", c)
    lanes = [_minhash_half(f"_w{j // 2}", j) for j in range(n_hashes)]
    shingle_dim = dim.select(
        "shingle", F.posexplode(F.array(*lanes)).alias("seed", "h")
    )
    hashed = sh.join(F.broadcast(shingle_dim), "shingle")
    return hashed.groupBy(id_col, "seed").agg(F.min("h").alias("minhash"))


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = SHINGLE_LEN,
    n_hashes: int = N_HASHES,
) -> DataFrame:
    """MinHash: for seed j, sig_j = min over shingles of the 30-bit
    lane of md5(shingle || '#' || j//4) picked by (j//2)%2, j%2 — four
    independent lanes per md5 call (module notes at ``_minhash_words``).
    Output: (id, seed, minhash) long form — one row per (doc, seed),
    computed with a single aggregation.
    """
    sh = shingles(df, id_col, text_col, k)
    return minhash_from_shingles(sh, id_col, n_hashes)


def minhash_accuracy(
    docs: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = SHINGLE_LEN,
    n_hashes: int = N_HASHES,
) -> DataFrame:
    """MinHash estimator calibration — exact k-shingle Jaccard vs the
    signature-agreement estimate on every shingle-sharing pair of a
    (bounded) corpus sample: the measurement an engine needs before
    trusting banded LSH thresholds at scale (E[est] = J; sd =
    sqrt(J(1-J)/n_hashes)).

    Output per pair (id_a < id_b, >= 1 shared shingle): sizes,
    intersection, exact ``jaccard``, ``estimate`` (matching-minima
    fraction), ``abs_err``.  All numerators/denominators are integer
    counts, so both ratios are single IEEE divisions —
    engine-bit-identical and fully oracle-replayable.

    Scale shape: deliberately quadratic in the SAMPLE (signature
    self-join on seed + inverted-index intersection) — bound the input
    like the other exact baselines (`ngram_jaccard`); the production
    path stays `minhash_lsh_pairs`.
    """
    sh = shingles(docs, id_col, text_col, k)
    sig = minhash_from_shingles(sh, id_col, n_hashes)
    sa = sig.select(F.col(id_col).alias("id_a"), "seed", F.col("minhash").alias("ha"))
    sb = sig.select(F.col(id_col).alias("id_b"), "seed", F.col("minhash").alias("hb"))
    est = (
        sa.join(sb, "seed")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.when(F.col("ha") == F.col("hb"), 1).otherwise(0)).alias("n_match"))
    )
    out = (
        _shingle_overlaps(sh, id_col)
        .join(est, ["id_a", "id_b"], "left")
        .withColumn("n_match", F.coalesce("n_match", F.lit(0)))
        .withColumn("jaccard", _jaccard())
        .withColumn("estimate", F.col("n_match") / F.lit(float(n_hashes)))
        .withColumn("abs_err", F.abs(F.col("estimate") - F.col("jaccard")))
    )
    return out.select(
        "id_a", "id_b", "n_a", "n_b", "n_inter", "n_match",
        "jaccard", "estimate", "abs_err",
    )


def lsh_candidates(
    signatures: DataFrame,
    id_col: str,
    n_bands: int = N_BANDS,
    n_hashes: int = N_HASHES,
) -> DataFrame:
    """Band the signature (rows_per_band = n_hashes / n_bands) and emit
    candidate pairs sharing any band bucket (id_a < id_b, distinct)."""
    rows_per_band = n_hashes // n_bands
    banded = (
        signatures.withColumn("band", (F.col("seed") / rows_per_band).cast("int"))
        .groupBy(id_col, "band")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("seed"), F.col("minhash")))
                    ),
                    lambda s: s["minhash"].cast("string"),
                ),
                "_",
            ).alias("band_key")
        )
    )
    a = banded.select(F.col(id_col).alias("id_a"), "band", "band_key")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "band_key")
    return (
        a.join(b, ["band", "band_key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_sig_columns(
    sh: DataFrame, id_col: str, n_hashes: int = N_HASHES
) -> DataFrame:
    """MinHash signatures as n_hashes COLUMNS (m0..m{n-1}) instead of
    (id, seed, minhash) long form: the per-seed hashes ride each posting
    as extra columns, and one groupBy takes element-wise mins.  Versus
    the long form this avoids the n_hashes-fold row explosion through
    the shuffle (1 row per doc with n columns vs n rows per doc) and the
    second banding aggregation.  Hash values are identical to
    :func:`minhash_from_shingles` (30-bit md5-lane family, see module
    notes at ``_minhash_words``).
    """
    hashed = hashed_shingles(sh, n_hashes)
    return hashed.groupBy(id_col).agg(
        *[F.min(f"h{j}").alias(f"m{j}") for j in range(n_hashes)]
    )


def _minhash_sig_sets(sh: DataFrame, id_col: str, n_hashes: int) -> DataFrame:
    """One row per doc: the signature columns m0..m{n-1} and ``sset``,
    the doc's set of 60-bit shingle ids — both from ONE aggregation of
    the posting relation, so the wide posting-level intermediate is
    never re-read."""
    return hashed_shingles(sh, n_hashes).groupBy(id_col).agg(
        *[F.min(f"h{j}").alias(f"m{j}") for j in range(n_hashes)],
        F.collect_set("sid").alias("sset"),
    )


def hashed_shingles(sh: DataFrame, n_hashes: int = N_HASHES) -> DataFrame:
    """Posting relation with the per-seed hash columns h0..h{n-1}
    (30-bit lanes) plus ``sid`` — the 60-bit shingle id (word 0
    undivided) for set operations; primitive long arrays instead of
    string arrays keeps verification allocation-light.

    The hashes are computed per POSTING row: ceil(n/4) md5s and
    ceil(n/2) convs each, no broadcast and no extra shuffle, so the
    cost is CPU-linear at any corpus size.  (Hashing each DISTINCT
    shingle once and broadcasting the result back collects the
    distinct-shingle relation to the driver, which breaks past
    ``spark.driver.maxResultSize`` on high-entropy corpora — r8,
    PLANS.md — and it measured no faster than this path on the
    200-document benchmark corpus: 1.3–1.4 s warm each, same jobs,
    4-core host.)
    """
    words = _minhash_words(F.col("shingle"), n_hashes)
    rel = sh
    for w, c in enumerate(words):
        rel = rel.withColumn(f"_w{w}", c)
    for j in range(n_hashes):
        rel = rel.withColumn(f"h{j}", _minhash_half(f"_w{j // 2}", j))
    rel = rel.withColumn("sid", F.col("_w0"))
    return rel.drop(*[f"_w{w}" for w in range(len(words))])


def _band_rows(sigcols: DataFrame, n_bands: int, n_hashes: int) -> DataFrame:
    """Explode columnar signatures to n_bands rows per doc: ``band`` and
    ``band_key``, the band's minhash columns packed into an
    array<bigint> join key.  Every non-signature column passes
    through."""
    rows_per_band = n_hashes // n_bands
    sig = [f"m{j}" for j in range(n_hashes)]
    bands = [
        F.struct(
            F.lit(b).alias("band"),
            F.array(*sig[b * rows_per_band : (b + 1) * rows_per_band]).alias("band_key"),
        )
        for b in range(n_bands)
    ]
    rest = [c for c in sigcols.columns if c not in sig]
    return sigcols.select(*rest, F.explode(F.array(*bands)).alias("_bb")).select(
        *rest, "_bb.band", "_bb.band_key"
    )


def lsh_candidates_from_columns(
    sigcols: DataFrame,
    id_col: str,
    n_bands: int = N_BANDS,
    n_hashes: int = N_HASHES,
) -> DataFrame:
    """Candidates from columnar signatures: docs sharing a band bucket
    (an array<bigint> key — hashes/compares 4 longs instead of an
    80-char concat string), id_a < id_b, distinct.  Bucket membership is
    identical to the long-form string band_key (same values, seed
    order)."""
    sig = sigcols.select(id_col, *[f"m{j}" for j in range(n_hashes)])
    banded = _band_rows(sig, n_bands, n_hashes)
    a = banded.select(F.col(id_col).alias("id_a"), "band", "band_key")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "band_key")
    return (
        a.join(b, ["band", "band_key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int = 1,
) -> DataFrame:
    """Fuzzy near-duplicate PAIRS by edit distance — entity/title/vocab
    dedup (typo clustering), the string-metric member of the dedup
    family.

    Symmetric-delete banding (SymSpell): every string emits its
    ``max_dist``-deletion neighborhood (all variants reachable by
    deleting up to ``max_dist`` characters, itself included); two
    strings within edit distance ``max_dist`` ALWAYS share at least
    one variant, so bucketing on the variant key is candidate-COMPLETE
    — no distance-d pair can be missed — while typical buckets stay
    tiny.  Candidates verify with exact ``levenshtein``.

    Shape: explode x O(len^max_dist) variants -> one shuffle on the
    variant key -> in-bucket pairing -> id-distinct -> exact verify.
    Quadratic only within a variant bucket (strings sharing a deletion
    variant), the same contract as the MinHash band buckets.  Intended
    for SHORT strings (titles, entities, vocabulary terms); for
    documents use MinHash/SimHash.

    Output: (id_a, id_b, dist) with id_a < id_b, dist <= max_dist,
    exact duplicates excluded (dist >= 1) — integers end-to-end, so
    the whole operator is oracle-checkable.
    """
    if max_dist not in (1, 2):
        raise ValueError("edit_distance_pairs supports max_dist in {1, 2}")
    base = df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))
    # 0- and 1-deletion variants; for max_dist=2 also 2-deletions
    del1 = (
        "transform(sequence(1, length(_t)), "
        "i -> concat(substring(_t, 1, i - 1), substring(_t, i + 1, length(_t))))"
    )
    variants = f"array_union(array(_t), {del1})"
    if max_dist == 2:
        variants = (
            f"array_union({variants}, flatten(transform({del1}, v -> "
            "transform(sequence(1, length(v)), "
            "j -> concat(substring(v, 1, j - 1), substring(v, j + 1, length(v)))))))"
        )
    banded = base.select(
        "_id", "_t", F.explode(F.expr(f"CASE WHEN length(_t) = 0 THEN array(_t) ELSE {variants} END")).alias("_v")
    )
    a = banded.select(
        F.col("_id").alias("id_a"), F.col("_t").alias("ta"), "_v"
    )
    b = banded.select(
        F.col("_id").alias("id_b"), F.col("_t").alias("tb"), "_v"
    )
    cands = (
        a.join(b, "_v")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "ta", "tb")
        .distinct()
    )
    return (
        cands.withColumn("dist", F.levenshtein("ta", "tb"))
        .where((F.col("dist") >= 1) & (F.col("dist") <= max_dist))
        .select("id_a", "id_b", "dist")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = SHINGLE_LEN,
    n_hashes: int = N_HASHES,
    n_bands: int = N_BANDS,
    threshold: float = 0.8,
    expand: str = "all",
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline with exact-duplicate cluster
    compression: signatures -> banded candidates -> exact-Jaccard
    verification, but the expensive shingle/signature/verify stages run
    only on one representative per distinct text.

    Exact-duplicate docs (same md5 digest) have identical shingle sets,
    hence identical signatures, band keys, and pairwise Jaccards — so
    (a) every intra-cluster pair is a candidate with Jaccard exactly
    1.0, and (b) a cross-cluster pair is a candidate with Jaccard j iff
    its representative pair is.  Verifying the O(reps^2) pairs and
    expanding to member pairs afterwards reproduces the uncompressed
    output bit-for-bit at a fraction of the join cost.  On web-crawl
    corpora (where exact dups dominate) this is the difference between
    verifying every clique edge and verifying one edge per clique pair.

    ``expand`` selects the output edge set:

    - ``"all"`` (default): every member-level near-dup pair — the
      uncompressed semantics the DuckDB oracle replays.  Intra-cluster
      expansion is QUADRATIC in exact-dup clique size, so this mode is
      for pair-level consumers (inventory, audits) at moderate clique
      sizes.
    - ``"star"``: connectivity-equivalent linear edge set for the
      clustering chain (-> connected_components): verified rep-level
      pairs plus one member->rep star edge per exact duplicate.  A
      web-crawl dup storm of 10^6 identical docs yields 10^6 - 1 star
      edges instead of ~5*10^11 pairs; the transitive closure (and
      hence dedup_clusters / keep_best_per_cluster) is IDENTICAL.

    Plan shape: every relation has ONE consumer, so nothing is cached.
    One ``min(id) over (partition by digest)`` window tags each doc
    with its representative; the representatives, the star edges and
    the member expansion all filter that one tagged relation (Spark
    reuses its exchange inside the query).  The shingle-id sets ride
    the band explode, so the band self-join yields both sets of each
    candidate and verifies it in place — no join back to the per-doc
    relation.
    """
    if expand not in ("all", "star"):
        raise ValueError(f"expand must be 'all' or 'star', got {expand!r}")
    # No broadcast hints: one row per *distinct text* is not a small dim
    # at crawl scale, so join strategies are left to Catalyst/AQE.
    tagged = df.select(
        id_col, text_col, content_digest(F.col(text_col)).alias("digest")
    ).withColumn("rep_id", F.min(id_col).over(Window.partitionBy("digest")))
    rep_docs = tagged.where(F.col(id_col) == F.col("rep_id"))
    # exact duplicates of a representative (null text has no digest)
    members = tagged.where(F.col("digest").isNotNull()).select(id_col, "rep_id")

    sh = shingles(rep_docs, id_col, text_col, k)
    banded = _band_rows(_minhash_sig_sets(sh, id_col, n_hashes), n_bands, n_hashes)
    a = banded.select(
        F.col(id_col).alias("id_a"), F.col("sset").alias("set_a"), "band", "band_key"
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), F.col("sset").alias("set_b"), "band", "band_key"
    )
    # verification on the candidate rows themselves: the sets hold the
    # sid shingle ids (60-bit longs), so the counts — and hence the
    # Jaccard division — equal those of string shingle sets.  A pair
    # sharing several bands shows up once per band; the distinct over
    # its integer counts keeps one row before the division.
    rep_pairs = (
        a.join(b, ["band", "band_key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", *_set_counts("set_a", "set_b"))
        .distinct()
        .withColumn("jaccard", _jaccard())
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    if expand == "star":
        # member -> representative star edges; rep_id = min(id) of the
        # digest, so it is the smaller id of every edge
        star = members.where(F.col(id_col) != F.col("rep_id")).select(
            F.col("rep_id").alias("id_a"),
            F.col(id_col).alias("id_b"),
            F.lit(1.0).alias("jaccard"),
        )
        return rep_pairs.unionByName(star)

    # intra-cluster expansion: every pair of exact dups is a candidate
    # (identical band keys) with n_inter = n_a = n_b, i.e. Jaccard = 1.0
    ma = members.select(F.col(id_col).alias("mem_a"), F.col("rep_id").alias("id_a"))
    mb = members.select(F.col(id_col).alias("mem_b"), F.col("rep_id").alias("id_b"))
    intra = (
        ma.join(mb, F.col("id_a") == F.col("id_b"))
        .where(F.col("mem_a") < F.col("mem_b"))
        .select(
            F.col("mem_a").alias("id_a"),
            F.col("mem_b").alias("id_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    # cross-cluster expansion: rep pair -> all member pairs, reoriented
    cross = (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least("mem_a", "mem_b").alias("id_a"),
            F.greatest("mem_a", "mem_b").alias("id_b"),
            "jaccard",
        )
    )
    return cross.unionByName(intra)


def simhash(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """SimHash over whitespace tokens: per bit position b of the 60-bit
    token hash, sum +1/-1 across tokens; bit is set where the sum is
    positive.  One explode + aggregation; signature is a bigint.

    Plan-shape note (r11, measured NEGATIVE): a single groupBy(id)
    with 60 conditional-sum columns — no bit explode, one exchange
    fewer — timed 1.50 s vs 0.67 s for THIS shape on the sf0.1 docs
    (min-of-3, same session): a 60-field aggregation buffer loses the
    fast codegen'd hash-aggregate path, which costs more than the
    60x-row bit explode saves (the exploded rows are 3 narrow ints
    and partial aggregation collapses them map-side).  Kept exploded."""
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.col(text_col)), " ")).alias("token"),
    )
    hashed = toks.withColumn("h", _md5_60bit(F.col("token")))
    bits = hashed.select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))).alias("bit"),
        F.col("h"),
    ).withColumn(
        "vote",
        F.expr("(shiftright(h, bit) & CAST(1 AS BIGINT)) * 2 - 1"),
    )
    return (
        bits.groupBy(id_col, "bit")
        .agg(F.sum("vote").alias("s"))
        .withColumn(
            "bitval",
            F.when(
                F.col("s") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), bit)")
            ).otherwise(F.lit(0).cast("bigint")),
        )
        .groupBy(id_col)
        .agg(F.sum("bitval").cast("bigint").alias("simhash"))
    )


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    max_hamming: int = 3,
    n_bands: int = 4,
    expand: str = "all",
) -> DataFrame:
    """SimHash near-dup PAIRS: band the 60-bit signature (15 bits x 4),
    docs sharing any band key are candidates, verified by exact Hamming
    distance (``bit_count(xor)``) <= max_hamming.

    By the pigeonhole principle a pair within Hamming distance
    ``n_bands - 1`` is GUARANTEED to share at least one intact band, so
    for max_hamming < n_bands this finds every qualifying pair — banding
    here is exact, not probabilistic.  All-integer pipeline: bit-exact
    in any engine.

    Exact-duplicate cluster compression (r8, per the r7 verdict item
    6): docs with identical text have identical token multisets, hence
    identical signatures, band keys, and pairwise Hamming 0.
    ``expand`` selects the output edge set AND the execution strategy:

    - ``"all"`` (default): every member-level pair — the direct
      banded pipeline over the full corpus, exactly what the DuckDB
      oracle replays.  Measured note: reconstructing member pairs
      from a rep-compressed run costs MORE than it saves at moderate
      dup rates (sf0.1 two-crawl A/B: 1.1 s direct vs 1.7 s
      reconstructed), and pair-level output is quadratic in clique
      size regardless — so "all" stays uncompressed; dup-storm
      corpora should consume "star".
    - ``"star"``: connectivity-equivalent linear edge set for the
      clustering chain: rep election by ONE window over the text
      digest (no digest join, no cache — min-id-per-digest rides the
      same shuffle), the explode-heavy simhash/banding/verify stages
      run on the representatives only, output = verified rep pairs +
      one member->rep edge per exact duplicate.  A web-crawl dup
      storm of 10^6 identical docs yields 10^6 - 1 star edges instead
      of ~5*10^11 pairs; the transitive closure — and hence
      dedup_clusters / keep_best_per_cluster / leakage_safe_split —
      is IDENTICAL (201x fewer edges, 7.4x faster closure at the
      200k-doc storm probe; PLANS.md r8).
    """
    if expand not in ("all", "star"):
        raise ValueError(f"expand must be 'all' or 'star', got {expand!r}")
    if expand == "star":
        tagged = df.withColumn("_dig", content_digest(F.col(text_col))).withColumn(
            "_rep", F.min(id_col).over(Window.partitionBy("_dig"))
        )
        src = tagged.where(F.col(id_col) == F.col("_rep")).drop("_dig", "_rep")
    else:
        src = df

    sigs = simhash(src, id_col, text_col)
    band_bits = SIMHASH_BITS // n_bands
    mask = (1 << band_bits) - 1
    banded = sigs.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.expr(
                f"transform(sequence(0, {n_bands - 1}), b -> named_struct("
                f"'band', b, 'key', shiftright(simhash, b * {band_bits}) "
                f"& CAST({mask} AS BIGINT)))"
            )
        ).alias("bb"),
    ).select(id_col, "simhash", "bb.band", "bb.key")
    a = banded.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sig_a"), "band", "key"
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sig_b"), "band", "key"
    )
    pairs = (
        a.join(b, ["band", "key"])
        .where(F.col("id_a") < F.col("id_b"))
        # r11 plan shape: verify BEFORE the distinct.  A candidate pair
        # surfaces once per shared band (<= n_bands dup rows); hamming
        # is a pure function of the pair, so dedup-then-filter and
        # filter-then-dedup return the same pair set — but filtering
        # first means the distinct exchange carries only VERIFIED pairs
        # (3 narrow columns), not every banded candidate plus two
        # 64-bit signatures.  The bit_count runs per duplicate row —
        # one codegen'd integer op, orders cheaper than the shuffle
        # bytes it saves (guide §2.3: shuffle fewer bytes).
        .withColumn("hamming", F.expr("bit_count(sig_a ^ sig_b)"))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )
    if expand == "star":
        star = (
            tagged.where(F.col(id_col) != F.col("_rep"))
            .select(
                F.least(id_col, "_rep").alias("id_a"),
                F.greatest(id_col, "_rep").alias("id_b"),
                F.lit(0).alias("hamming"),
            )
        )
        return pairs.unionByName(star)
    return pairs


# Edge bound of connected_components' driver arm: a deduplicated
# symmetric edge list of at most this many rows is collected and closed
# by union-find on the driver; a larger one keeps label propagation.
# The driver arm won at every probed size (connected_components
# docstring), so this is the largest one: its collect is ~6 MB pickled,
# far below spark.driver.maxResultSize, and the driver's Python process
# peaked near 0.4 GB.
DRIVER_CLOSURE_MAX_EDGES = 1_000_000

# Longest wait for an Observation after the action that delivers it.
# Spark posts observed metrics through its listener bus, a moment after
# the action returns; a wait past this bound warns and recomputes the
# metrics with a direct aggregate instead of hanging.
OBSERVATION_WAIT_S = 30.0


def _observed(obs: Observation, fallback: DataFrame, *aggs: Column) -> dict:
    """``obs``'s metrics, waiting at most ``OBSERVATION_WAIT_S`` for
    delivery; on timeout, warn and evaluate ``aggs`` (the observed
    expressions) over ``fallback`` (the materialized observed frame)."""
    deadline = time.monotonic() + OBSERVATION_WAIT_S
    while not obs._jo.future().isCompleted():
        if time.monotonic() >= deadline:
            warnings.warn(
                f"Observation not delivered within {OBSERVATION_WAIT_S} s; "
                "computing its metrics with a direct aggregate",
                RuntimeWarning,
                stacklevel=2,
            )
            return fallback.agg(*aggs).first().asDict()
        time.sleep(0.002)
    return obs.get


def _driver_orderable(t: DataType) -> bool:
    """Whether Python orders collected values of ``t`` exactly as Spark
    does, so the driver arm's min id is Spark's: integers, and strings
    under the default binary collation (codepoint order equals UTF-8
    byte order).  Floats are out: NaN and -0.0 compare differently."""
    return isinstance(t, IntegralType) or t == StringType()


def _union_find(pairs) -> dict:
    """node -> minimum node id of its component.  The smaller root wins
    every union, so each root is its component's minimum."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return {n: find(n) for n in parent}


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    stats: dict | None = None,
    steps_per_cycle: int = 2,
) -> DataFrame:
    """Connected components over an undirected edge list -> one row per
    node ``(node, component)`` with ``component`` = the minimum node id
    reachable from it.

    The canonical final step of a near-dup pipeline: LSH/Jaccard emit
    PAIRS, but "keep one copy" needs the transitive closure of those
    pairs (a~b, b~c => one cluster {a,b,c}).

    Arm selection: the job that checkpoints the deduplicated symmetric
    edge list also counts its rows (an ``Observation`` on that job, so
    choosing costs no extra job).  At most
    ``DRIVER_CLOSURE_MAX_EDGES`` rows, with an id type Python orders
    as Spark does (integers, binary-collated strings), take the DRIVER
    arm; anything else takes label PROPAGATION.  Both reach the same
    min-id fixpoint.  ``stats`` gets ``arm`` ("driver"/"propagation"),
    ``edges`` (the observed row count) and ``rounds`` (0 on the driver
    arm).  A null endpoint raises ``ValueError`` on either arm.

    Driver arm: collect one orientation of each edge and run
    union-find in which the smaller id wins every union; the result
    comes back as a local (Arrow-built) DataFrame with the id column's
    own type.  Small dedup graphs pay a handful of jobs instead of ~30 for
    propagation's checkpoint rounds.  Measured crossover (4-core host,
    local[4], warm, closure plus one aggregate over its output; graphs
    of disjoint 4-node cycles, propagation's easy case at 4 rounds):
    10^4 rows 2.0 s driver vs 4.8 s propagation, 10^5 rows 2.1 s vs
    5.0 s, 10^6 rows 6.9 s vs 17.0 s.  With every tenth edge rewired
    at random (16-22 propagation rounds) propagation took 11-16 s at
    10^4-10^5 rows while the driver arm stayed at ~2 s.  No crossover
    was found, so ``DRIVER_CLOSURE_MAX_EDGES`` is the largest probed
    size, 10^6, where the collect is ~6 MB.

    Propagation arm: min-label propagation with pointer jumping.  Each
    round does (1) a neighbor step — every node takes the min label
    over itself and its neighbors (one shuffle on the edge list) — and
    (2) a pointer-jump step — label(n) <- label(label(n)) (one
    self-join on the label table, whose size is |V|, not |E|).
    Lineage is truncated every cycle with ``localCheckpoint``
    (iterative plans otherwise grow unboundedly and re-execute from
    the scan).  Convergence is O(log diameter) when pointer jumps
    compose, and O(diameter) on chains that interleave descending
    local minima (measured r6: the sf0.1 two-crawl SimHash graph takes
    10 rounds — see PLANS.md).  Production dup graphs are near-cliques
    (the 50 M-doc probe converged in 4 rounds); per round it shuffles
    E on dst plus V.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    edge_aggs = (
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("a").isNull() | F.col("b").isNull(), 1)).alias("nulls"),
    )
    edge_obs = Observation()
    sym = (
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .observe(edge_obs, *edge_aggs)
        .localCheckpoint(eager=True)
    )
    counts = _observed(edge_obs, sym, *edge_aggs)
    if counts["nulls"]:
        raise ValueError(
            f"connected_components: {counts['nulls']} edge rows have a null "
            f"endpoint in {src!r}/{dst!r}; drop or fill them first"
        )
    id_type = sym.schema["a"].dataType
    driver = counts["n"] <= DRIVER_CLOSURE_MAX_EDGES and _driver_orderable(id_type)
    if stats is not None:
        stats["arm"] = "driver" if driver else "propagation"
        stats["edges"] = counts["n"]
        stats["rounds"] = 0
    if driver:
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_type

        comp = _union_find(sym.where(F.col("a") <= F.col("b")).collect())
        arrow_type = to_arrow_type(id_type)
        # an Arrow table becomes a LocalRelation: consumers get exact
        # size stats and scan it without Python workers (a list of rows
        # would go through a Python-side RDD on every evaluation)
        table = pa.table(
            {
                "node": pa.array(list(comp), arrow_type),
                "component": pa.array(list(comp.values()), arrow_type),
            }
        )
        return sym.sparkSession.createDataFrame(table)

    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    # labels only ever DECREASE, so convergence <=> sum(label) is
    # unchanged (decimal sum: exact at any integer id magnitude; other
    # id types sum a 64-bit hash of the label instead, which misses a
    # change only on a hash-sum collision)
    key = F.col("label") if isinstance(id_type, IntegralType) else F.xxhash64("label")
    label_sum = F.sum(key.cast("decimal(38,0)")).alias("s")
    prev_sum = None
    rounds = 0
    for cycle in range(max_iter):
        # r11: the dominant cost at moderate graph sizes is the FIXED
        # per-cycle overhead (checkpoint job + convergence collect +
        # scheduling barriers), not the shuffled bytes — so compose
        # ``steps_per_cycle`` propagation steps into one lineage/
        # convergence cycle (same monotone min-label fixpoint, same
        # output; A/B at sf0.1: 2 steps/cycle cut the closure ~25%,
        # see PLANS.md r11).  Worst case it runs one redundant step
        # after convergence — a tiny-label-table no-op.
        stepped = labels
        for _s in range(steps_per_cycle):
            rounds += 1
            # (1) neighbor min: candidate labels flowing along edges
            nbr = (
                sym.join(stepped.withColumnRenamed("node", "b"), "b")
                .select(F.col("a").alias("node"), "label")
            )
            stepped = (
                stepped.unionByName(nbr)
                .groupBy("node")
                .agg(F.min("label").alias("label"))
            )
        # (2) pointer jump: label(n) <- min(label(n), label(label(n)))
        parent = stepped.select(
            F.col("node").alias("label"), F.col("label").alias("plabel")
        )
        # r12 (VERDICT r11 item 5): the label sum rides the CHECKPOINT
        # job as an Observation side-channel (CollectMetrics node) instead
        # of a dedicated collect job — ONE driver-barrier job per cycle,
        # down from two; the metrics arrive through the listener bus a
        # moment after localCheckpoint(eager=True)'s materializing action
        # returns, so _observed waits for them, bounded.  The checkpoint
        # stays EAGER — the r6 negative (lazy checkpoint with the
        # aggregate as materializer: 4.9 -> 5.2-6.2 s) fused two
        # CONSUMERS over an unpinned plan, which is a different shape.
        obs = Observation()
        jumped = (
            stepped.join(parent, "label", "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("plabel", "label")).alias("label"),
            )
            .observe(obs, label_sum)
            .localCheckpoint(eager=True)
        )
        labels = jumped
        cur_sum = _observed(obs, jumped, label_sum)["s"]
        # the first cycle has nothing to compare against (an empty
        # graph's sum is NULL, so a None sentinel would never match)
        if cycle and cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        warnings.warn(
            f"connected_components: no fixpoint after max_iter={max_iter} "
            "rounds; labels may be unconverged (components over-split). "
            "Raise max_iter — rounds needed grow with log(graph diameter).",
            RuntimeWarning,
            stacklevel=2,
        )
    if stats is not None:
        # rounds-to-converge, measurable by scale probes (the last
        # round is the no-change confirmation pass)
        stats["rounds"] = rounds
    return labels.select("node", F.col("label").alias("component"))


def dedup_clusters(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Near-dup pair list -> dedup decision table: one row per clustered
    doc with its canonical representative (min id in the component) and
    the cluster size.  Downstream "keep one copy" is then a single
    ``where(doc_id == canonical_id)`` (or an anti-join of the rest)."""
    cc = connected_components(pairs, src, dst)
    w_size = F.count(F.lit(1)).over(Window.partitionBy("component"))
    return cc.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("canonical_id"),
        w_size.alias("cluster_size"),
    )


def keep_best_per_cluster(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    score: Column | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Duplicate-cluster survivor selection: given the corpus and a
    :func:`dedup_clusters` decision table, keep ONE doc per near-dup
    cluster — the highest-``score`` member (ties broken by min id) —
    and every unclustered doc as its own survivor.  This is the
    "which duplicate do you keep" step of a production dedup pipeline
    (keep-longest is the common heuristic; pass any deterministic
    Column to rank by quality instead).

    Relational shape: broadcast-friendly left join of the corpus onto
    the (small) cluster table, then a single argmax window per cluster
    key — the same W2 argmax-per-group machinery as the probe->gene
    dedup (`MultiGene2ProbeFilter.R:50-64` analogue at corpus scale).
    Output: one row per survivor (cluster_key, kept id, cluster_size,
    kept_score); cluster_size is 1 for singletons.
    """
    if score is None:
        # default keep-longest ranks by text_col so corpora whose text
        # column is named differently work without a custom score
        # (r3 ADVICE: the hard-coded "text" raised AnalysisException)
        score = F.length(text_col)
    # dedup_clusters names its id column "doc_id" regardless of the
    # caller's id_col; accept either spelling in the clusters table
    cl_id = id_col if id_col in clusters.columns else "doc_id"
    joined = (
        docs.select(F.col(id_col), score.alias("_score"))
        .join(
            clusters.select(F.col(cl_id).alias(id_col), "canonical_id"),
            id_col,
            "left",
        )
        .withColumn("cluster_key", F.coalesce("canonical_id", F.col(id_col)))
    )
    w = Window.partitionBy("cluster_key").orderBy(
        F.col("_score").desc(), F.col(id_col).asc()
    )
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .withColumn(
            "cluster_size",
            F.count(F.lit(1)).over(Window.partitionBy("cluster_key")),
        )
        .where(F.col("_rn") == 1)
        .select(
            "cluster_key",
            F.col(id_col).alias("kept_id"),
            "cluster_size",
            F.col("_score").alias("kept_score"),
        )
    )


def dedup_paragraphs(
    docs: DataFrame,
    id_col: str,
    text_col: str = "text",
    out_col: str = "text_deduped",
    sep: str = "\n\n",
    min_chars: int = 1,
) -> DataFrame:
    """CORPUS-level paragraph deduplication — the CCNet/RefinedWeb
    pre-pass: every paragraph keeps only its FIRST corpus occurrence
    (ordered by ``(doc_id, position)``); later copies are dropped from
    their documents.  Complements :func:`~..text.dedup_lines`, which is
    within-document only — the boilerplate this pass removes (subscribe
    blocks, legal footers, syndicated intro paragraphs) repeats
    *across* documents, where no per-doc operator can see it.

    Paragraphs shorter than ``min_chars`` (after trim) are exempt —
    they are kept everywhere and never define a duplicate class (empty
    strings and one-word connectives would otherwise vanish corpus-wide
    after their first occurrence).

    Scale shape (the reason this is NOT a digest window): the winner
    per duplicate class is ``min(struct(doc_id, pos))`` under groupBy,
    which is map-side combinable — a paragraph repeated in 10^8 docs
    (cookie banners at crawl scale) collapses to one row per map task
    before the shuffle, where a ``row_number() over (partition by
    digest)`` window would funnel all 10^8 rows through one reducer.
    Two further shuffles, both well-keyed: winner join-back on digest,
    reassembly groupBy on ``id_col``.

    Output: one row per input doc — ``(id_col, n_paras, n_kept,
    out_col)``, paragraph order preserved, docs whose every paragraph
    was a later copy come back with an empty string.
    """
    # F.split takes a REGEX but array_join reassembles with the LITERAL
    # separator — escape it so metacharacter separators ('. ', '|')
    # split literally and the kept text round-trips (r4 ADVICE)
    sep_re = re.escape(sep)
    paras = (
        docs.select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), F.lit(sep_re), -1)).alias(
                "pos", "para"
            ),
        )
        # dedup on the normalized form (case/outer-space insensitive),
        # reassemble the original bytes — CCNet hashes normalized text
        .withColumn("norm", F.lower(F.trim("para")))
        .withColumn("exempt", F.length("norm") < min_chars)
    )
    winners = (
        paras.where(~F.col("exempt"))
        .groupBy("norm")
        .agg(F.min(F.struct(F.col(id_col), F.col("pos"))).alias("w"))
        .select("norm", F.col(f"w.{id_col}").alias("_wid"), F.col("w.pos").alias("_wpos"))
    )
    kept = paras.join(winners, "norm", "left").where(
        F.col("exempt")
        | ((F.col(id_col) == F.col("_wid")) & (F.col("pos") == F.col("_wpos")))
    )
    stats = docs.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), F.lit(sep_re), -1)).alias("n_paras"),
    )
    rebuilt = (
        kept.groupBy(id_col)
        .agg(F.sort_array(F.collect_list(F.struct("pos", "para"))).alias("ps"))
        .select(
            F.col(id_col),
            F.size("ps").alias("n_kept"),
            F.array_join(F.transform("ps", lambda s: s["para"]), sep).alias(out_col),
        )
    )
    return (
        stats.join(rebuilt, id_col, "left")
        .select(
            id_col,
            "n_paras",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce(out_col, F.lit("")).alias(out_col),
        )
    )


def mask_frequent_ngrams(
    docs: DataFrame,
    id_col: str,
    text_col: str = "text",
    out_col: str = "text_masked",
    n: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Repeated-substring removal at n-gram granularity — the
    distributed approximation of suffix-array training-data dedup
    (Lee et al. 2021, "Deduplicating Training Data Makes Language
    Models Better"): any span of ``n`` consecutive whitespace tokens
    occurring at least ``min_count`` times in the CORPUS is masked
    (its tokens removed) from every document, including the first.

    A true suffix array is a global sequential structure with no
    shuffle-friendly construction; the standard scale substitute is
    exactly this — fixed-width n-gram inventory, corpus frequency
    filter, span-cover mask — which upper-bounds it: every repeated
    substring of length >= n tokens is covered by its repeated
    n-grams.  All stages are hash-partitioned aggregates/joins:

    - gram inventory: md5 digest of each n-token window (md5 so the
      DuckDB oracle replays bit-identically; the digest also bounds
      shuffle width vs shipping raw gram text),
    - corpus counts: groupBy(gram) — map-side combinable, the
      mega-repeated gram collapses before the shuffle,
    - cover: matched starts explode to ``sequence(pos, pos+n-1)``;
      kept tokens = posexploded tokens anti-joined on (id, pos),
    - reassembly: one groupBy(id), order restored via sort_array.

    Output: ``(id_col, n_tokens, n_masked, out_col)`` — every input
    doc present, fully-masked docs come back empty.
    """
    toks = docs.select(
        F.col(id_col),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("ts"),
    )
    grams = toks.select(
        F.col(id_col),
        # CASE guard, not greatest(.., 0): Spark's sequence(1, 0) is a
        # DESCENDING [1, 0], not empty — a 7-token doc would emit a
        # bogus position-0 gram (and slice(ts, 0, n) is an ANSI error)
        F.posexplode(
            F.expr(
                f"CASE WHEN size(ts) >= {n} THEN "
                f"transform(sequence(1, size(ts) - {n - 1}), "
                f"i -> md5(CAST(array_join(slice(ts, i, {n}), ' ') AS BINARY))) "
                f"ELSE array() END"
            )
        ).alias("pos0", "g"),
    ).select(F.col(id_col), (F.col("pos0") + 1).alias("pos"), "g")
    frequent = (
        grams.groupBy("g")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= min_count)
        .select("g")
    )
    covered = (
        grams.join(frequent, "g")
        .select(
            F.col(id_col),
            F.explode(F.sequence(F.col("pos"), F.col("pos") + (n - 1))).alias("p"),
        )
    )
    tok_rows = toks.select(
        F.col(id_col), F.posexplode("ts").alias("p0", "tok")
    ).select(F.col(id_col), (F.col("p0") + 1).alias("p"), "tok")
    kept = tok_rows.join(covered, [id_col, "p"], "left_anti")
    rebuilt = (
        kept.groupBy(id_col)
        .agg(F.sort_array(F.collect_list(F.struct("p", "tok"))).alias("ps"))
        .select(
            F.col(id_col),
            F.size("ps").alias("n_kept"),
            F.array_join(F.transform("ps", lambda s: s["tok"]), " ").alias(out_col),
        )
    )
    return (
        toks.select(F.col(id_col), F.size("ts").alias("n_tokens"))
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0))).alias("n_masked"),
            F.coalesce(out_col, F.lit("")).alias(out_col),
        )
    )


def substring_dedup_spans(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 8,
    min_tokens: int = 20,
    max_df: int = 1000,
) -> DataFrame:
    """Exact-substring duplicate spans (r8) — the relational form of
    Lee et al. 2022 ("Deduplicating Training Data Makes Language
    Models Better"), which removes VERBATIM repeated passages (>= ~50
    tokens there) that whole-doc and near-dup methods miss.  The
    paper builds a single-node suffix array; the distributed
    equivalent here:

    1. anchor: every k-TOKEN gram with its position, hashed to the
       repo-standard 60-bit md5;
    2. frequency guard: grams appearing in more than ``max_df`` docs
       are dropped before the join (boilerplate grams would drive the
       anchor self-join quadratic; the guard is the same move as
       frequent-n-gram masking, and any span made ONLY of such grams
       is boilerplate by definition);
    3. match: self-join on the gram hash -> (id_a, pos_a, id_b,
       pos_b) with id_a < id_b (same-doc internal repeats excluded);
    4. merge: consecutive shared grams lie on one DIAGONAL
       (pos_a - pos_b constant), so maximal shared spans are
       consecutive-integer runs of pos_a within (pair, diagonal) —
       the classic ``pos - row_number()`` run-grouping window;
    5. emit spans with token length >= ``min_tokens``
       (= run_len + k - 1 tokens).

    Output: (id_a, id_b, start_a, start_b, span_tokens) — 0-based
    token offsets of each maximal shared passage.

    Scale shape: one explode (grams), one df-guard aggregation, one
    hash-keyed self-join whose fan-out is bounded by ``max_df``, one
    window over (pair, diagonal) — every stage keyed and
    partitionable; nothing quadratic in corpus size, only in
    per-gram document frequency, which the guard caps.
    """
    toks = F.split(F.trim(F.col(text_col)), " ")
    gram_expr = (
        f"transform(sequence(1, size(_toks) - {k - 1}), "
        f"i -> concat_ws(' ', slice(_toks, i, {k})))"
    )
    grams = (
        df.select(F.col(id_col), toks.alias("_toks"))
        .where(F.size("_toks") >= k)
        .select(
            id_col,
            F.posexplode(F.expr(gram_expr)).alias("pos", "_g"),
        )
        .select(id_col, "pos", _md5_60bit(F.col("_g")).alias("gh"))
        # two consumers (df-guard aggregation + the guarded join): pin
        # the narrow (id, pos, gh) relation so the token explode + md5
        # pass runs ONCE, not once per branch (r11; bounded — 3 ints
        # per token)
        .persist()
    )
    register_persisted(grams)
    rare = (
        grams.groupBy("gh")
        .agg(F.countDistinct(id_col).alias("_df"))
        .where((F.col("_df") > 1) & (F.col("_df") <= max_df))
        .select("gh")
    )
    g = grams.join(rare, "gh")
    a = g.select(F.col("gh"), F.col(id_col).alias("id_a"), F.col("pos").alias("pos_a"))
    b = g.select(F.col("gh"), F.col(id_col).alias("id_b"), F.col("pos").alias("pos_b"))
    # no distinct on the match table (r11): a (doc, pos) emits exactly
    # ONE gram row, so a 4-tuple (id_a, id_b, pos_a, pos_b) can only
    # arise from one join row — the former .distinct() deduplicated
    # nothing and cost a full exchange of every anchor match.  (The
    # DuckDB oracle's SELECT DISTINCT is equally a no-op — same rows.)
    m = a.join(b, "gh").where(F.col("id_a") < F.col("id_b")).select(
        "id_a", "id_b", "pos_a", "pos_b"
    )
    w = Window.partitionBy(
        "id_a", "id_b", (F.col("pos_a") - F.col("pos_b")).alias("_diag")
    ).orderBy("pos_a")
    runs = m.withColumn(
        "_run", F.col("pos_a") - F.row_number().over(w)
    )
    spans = (
        runs.groupBy("id_a", "id_b", (F.col("pos_a") - F.col("pos_b")).alias("_diag"), "_run")
        .agg(
            F.min("pos_a").alias("start_a"),
            F.min("pos_b").alias("start_b"),
            (F.max("pos_a") - F.min("pos_a") + F.lit(k)).alias("span_tokens"),
        )
        .where(F.col("span_tokens") >= min_tokens)
        .select("id_a", "id_b", "start_a", "start_b", "span_tokens")
    )
    return spans


def build_minhash_index(
    existing: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = SHINGLE_LEN,
    n_hashes: int = N_HASHES,
) -> DataFrame:
    """The persistable content index behind
    :func:`incremental_minhash_dedup`: one row per kept doc —
    (ex_id, digest, m0..m{n-1}, sset).  Every column is a pure content
    function (md5 digest, inline minhash signature, 60-bit shingle-id
    set), so a production pipeline computes this ONCE when a corpus is
    first deduped, writes it to parquet, and every later crawl batch
    pays only its own size (the kernel accepts it via
    ``existing_index=``).  Inline hashing throughout — zero broadcast,
    CPU-linear at any corpus size."""
    sh = shingles(existing, id_col, text_col, k)
    sigs = _minhash_sig_sets(sh, id_col, n_hashes)
    dig = existing.select(
        F.col(id_col), content_digest(F.col(text_col)).alias("digest")
    )
    return sigs.join(dig, id_col).withColumnRenamed(id_col, "ex_id")


def _band_key64(sigs: DataFrame, out_id: str, n_hashes: int, n_bands: int) -> DataFrame:
    """Explode a signature relation (out_id, m0..m{n-1}) into one row
    per band with a SINGLE 64-bit band key: ``xxhash64(band, m_j...)``.

    Equal band signatures hash equal, so no true candidate is ever
    lost vs the array-of-words key; a 64-bit collision can only ADD a
    candidate, which the exact-Jaccard verify then rejects — verdicts
    are unchanged (collision odds ~ |band rows|^2 / 2^64).  One long
    per band instead of ``rows_per_band`` longs makes the band
    relation half the bytes on the wire and trivially bucketable."""
    rows_per_band = n_hashes // n_bands
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    F.lit(b),
                    *[
                        F.col(f"m{j}")
                        for j in range(b * rows_per_band, (b + 1) * rows_per_band)
                    ],
                ).alias("bk64"),
            )
            for b in range(n_bands)
        ]
    )
    return sigs.select(out_id, F.explode(bands).alias("bb")).select(
        out_id, "bb.bk64"
    )


def build_minhash_band_index(
    existing_index: DataFrame,
    n_hashes: int = N_HASHES,
    n_bands: int = N_BANDS,
) -> DataFrame:
    """The pre-exploded BAND side of the persisted dedup index: one row
    per (kept doc, band) with the hashed 64-bit band key — ``(bk64,
    ex_id)``.  A production pipeline computes this once per index
    refresh and stores it (bucketed by ``bk64``, see
    :func:`write_minhash_index`) so no later batch ever pays the
    n_bands-way explode of the full corpus again."""
    return _band_key64(
        existing_index.select("ex_id", *[f"m{j}" for j in range(n_hashes)]),
        "ex_id",
        n_hashes,
        n_bands,
    )


def write_minhash_index(
    existing_index: DataFrame,
    table_prefix: str,
    n_buckets: int = 64,
    n_hashes: int = N_HASHES,
    n_bands: int = N_BANDS,
) -> None:
    """Persist the incremental-dedup index as two tables:

    - ``{prefix}_docs``   — (ex_id, digest, m0.., sset), bucketed by
      ``digest`` (the exact arm's join key);
    - ``{prefix}_bands``  — (bk64, ex_id) pre-exploded band relation,
      bucketed AND sorted by ``bk64``.

    Bucketing is the huge-batch lever: when an incoming batch is too
    large to broadcast its band keys, the band join shuffles ONLY the
    batch into the index's bucket layout — the stored side joins
    shuffle-free (Spark reuses the bucket spec as the join
    distribution).  Small batches never shuffle the index either way
    (the broadcast semi-join path in
    :func:`incremental_minhash_dedup`)."""
    (
        existing_index.write.mode("overwrite")
        .bucketBy(n_buckets, "digest")
        .sortBy("digest")
        .saveAsTable(f"{table_prefix}_docs")
    )
    (
        build_minhash_band_index(existing_index, n_hashes, n_bands)
        .write.mode("overwrite")
        .bucketBy(n_buckets, "bk64")
        .sortBy("bk64")
        .saveAsTable(f"{table_prefix}_bands")
    )


def read_minhash_index(spark, table_prefix: str) -> tuple[DataFrame, DataFrame]:
    """Load the two persisted index tables written by
    :func:`write_minhash_index` — returns ``(docs, bands)``."""
    return (
        spark.table(f"{table_prefix}_docs"),
        spark.table(f"{table_prefix}_bands"),
    )


# Auto-arm bound for incremental_minhash_dedup (r12): batches whose
# Catalyst plan-size estimate is under this take the broadcast-bloom
# arm; larger (or unestimable) batches take the bucketed/shuffle arm.
# Estimated TEXT bytes, not broadcast bytes — the broadcasts carry
# ~8-byte keys per doc, so 256 MB of estimated batch corresponds to a
# few MB on the wire.
INCREMENTAL_BROADCAST_AUTO_MAX_BYTES = 256 * 1024 * 1024


def incremental_minhash_dedup(
    existing: DataFrame,
    incoming: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = SHINGLE_LEN,
    n_hashes: int = N_HASHES,
    n_bands: int = N_BANDS,
    threshold: float = 0.8,
    existing_index: DataFrame | None = None,
    index_bands: DataFrame | None = None,
    broadcast_batch: bool | None = None,
) -> DataFrame:
    """Incremental (cross-corpus) dedup (r8) — the OPERATIONAL dedup
    mode at 100 TB: a new crawl arrives and must be deduped against
    the already-kept corpus WITHOUT re-deduping the corpus against
    itself.  Every hash here (digest, shingle minhash, band key) is a
    pure content function, so the existing side's digests and band
    keys are exactly what a production pipeline would have persisted
    when the corpus was first deduped — this kernel recomputes them
    from text only because the gate corpus is small; at scale the
    existing arm is one parquet scan of the stored index and the
    incremental cost is proportional to the INCOMING batch alone.

    Two phases, cheapest first (the bloom_contamination discipline):

    1. exact — incoming digests equi-join the existing digest
       inventory; a hit is verdict ``'exact'`` with jaccard 1.0 and
       ``matched_id`` the smallest matching existing id.  Exact hits
       skip the minhash phase entirely (cheap pre-filter, and their
       signatures would be identical anyway).
    2. near — the exact-missed incoming docs get fused
       signature+shingle-set aggregates (one pass, the
       minhash_lsh_pairs shape); band keys join the existing side's
       band keys DIRECTIONALLY (incoming -> existing, never existing x
       existing); candidates verify with a native array_intersect
       exact Jaccard; the best match per incoming doc (max jaccard,
       tie -> smallest existing id) is verdict ``'near'`` when it
       clears ``threshold``.

    Everything else is verdict ``'new'``.  Output: one row per
    incoming doc — (id, verdict, matched_id, n_inter, n_a, n_b,
    jaccard), match columns NULL for 'new'.

    Scale shape (r11 — the per-batch index-size term killed): with
    ``broadcast_batch=True`` (the normal incremental regime,
    batch << index) the index side is never SHUFFLED — three broadcast
    semi-join prefilters cut every index-sized relation down to
    batch-matched survivors before any wide join:

    - exact arm: the stored docs are prefiltered by a broadcast of the
      batch's 64-bit digest hashes (``xxhash64(digest)``) — the
      "broadcast bloom" lever from the r10 ladder (one-sided
      maybe-pass at fpp ~ n/2^64; the real digest equi-join
      downstream resolves exactly), so the per-batch ``groupBy
      (digest)`` runs over survivors, not the corpus;
    - band arm: the stored band relation is prefiltered by a
      broadcast of the batch's distinct 64-bit band keys before the
      candidate join;
    - verify arm: the stored shingle-set relation is prefiltered by a
      broadcast of the candidate ``ex_id`` set before sets move.

    The remaining per-batch index cost is the SCAN of the stored
    relations (disk-bandwidth-bound, no shuffle, no explode — the
    band explode is pre-paid when ``index_bands`` is supplied from
    :func:`build_minhash_band_index` / the persisted table).  For the
    huge-batch regime (batch keys too big to broadcast), pass
    ``broadcast_batch=False`` with a BUCKETED ``index_bands`` table:
    the band join then shuffles only the batch into the index's
    bucket layout.  The best-match window partitions by incoming doc
    id (per-doc candidate lists, never the corpus).

    ``broadcast_batch=None`` (default, r12) SELF-SELECTS the arm at
    plan build from Catalyst's size estimate of the batch — no job is
    run.  The broadcast relations are ~8-byte key hashes per batch
    doc, so the text-bearing plan estimate overstates them by ~2
    orders of magnitude; the ``INCREMENTAL_BROADCAST_AUTO_MAX_BYTES``
    bound (256 MB of estimated batch plan size, i.e. a few MB of
    broadcast keys) is deliberately conservative — an unknown or huge
    estimate falls back to the shuffle arm, which is always safe.
    The r11 lesson motivating auto over the caller literal: a
    corpus-RATIO rule hard-coded the shuffle arm for the gate's
    corpus-sized-but-tiny batch, costing +0.6 s attributable at sf0.1
    (driver, both core counts) — at small ABSOLUTE sizes the
    broadcasts beat the shuffles regardless of the ratio, and at huge
    batch sizes broadcasting is infeasible regardless of the ratio,
    so absolute size is the decision variable.
    """
    inc = incoming.select(
        F.col(id_col).alias("inc_id"),
        F.col(text_col).alias("_txt"),
        content_digest(F.col(text_col)).alias("digest"),
    )
    if broadcast_batch is None:
        est = estimated_plan_bytes(incoming)
        broadcast_batch = est is not None and est <= INCREMENTAL_BROADCAST_AUTO_MAX_BYTES
    if existing_index is None:
        # built in-query: cache it — ex_digest, band keys, and the
        # verify join all consume it (a stored-index caller already
        # pays one parquet scan per consumer instead)
        existing_index = build_minhash_index(
            existing, id_col, text_col, k, n_hashes
        ).cache()
        # registered for deferred unpersist: repeated batch invocations
        # in a long-lived session must not accumulate cached relations
        # in executor memory (r8 ADVICE)
        register_persisted(existing_index)
    ex_docs = existing_index
    if broadcast_batch:
        # the broadcast-bloom lever (r10 ladder, PLANS.md): a 64-bit
        # hash of each batch digest — 8 bytes/doc on the wire — semi-
        # filters the stored docs at scan, so the groupBy below
        # aggregates survivors (<= batch size), never the corpus.  A
        # hash collision passes a non-matching digest through; the
        # exact digest equi-join right after resolves it (one-sided
        # maybe-pass, the bloom_contamination discipline).
        inc_d64 = inc.select(F.xxhash64("digest").alias("_d64")).distinct()
        ex_docs = existing_index.join(
            F.broadcast(inc_d64),
            F.xxhash64(existing_index["digest"]) == F.col("_d64"),
            "left_semi",
        )
    ex_digest = ex_docs.groupBy("digest").agg(
        F.min("ex_id").alias("matched_id")
    )
    exact = inc.join(ex_digest, "digest").select(
        "inc_id",
        F.lit("exact").alias("verdict"),
        "matched_id",
    )
    rest = inc.join(ex_digest.select("digest"), "digest", "left_anti").select(
        F.col("inc_id").alias(id_col), F.col("_txt").alias(text_col)
    )

    # two consumers (band keys + verify): cache the batch-sized
    # signature relation so the shingle/md5 pipeline runs once
    inc_sigs = _minhash_sig_sets(
        shingles(rest, id_col, text_col, k), id_col, n_hashes
    ).withColumnRenamed(id_col, "inc_id").cache()
    register_persisted(inc_sigs)
    ex_sigs = existing_index.select(
        "ex_id", *[f"m{j}" for j in range(n_hashes)], "sset"
    )
    inc_bands = _band_key64(inc_sigs, "inc_id", n_hashes, n_bands)
    if index_bands is None:
        index_bands = build_minhash_band_index(existing_index, n_hashes, n_bands)
    ex_bands = index_bands
    if broadcast_batch:
        # band-key prefilter: the batch's distinct keys (n_bands longs
        # per doc) broadcast-semi the stored band relation at scan —
        # the candidate join's index side is already batch-matched
        inc_keys = inc_bands.select("bk64").distinct()
        ex_bands = index_bands.join(F.broadcast(inc_keys), "bk64", "left_semi")
    cands = (
        inc_bands.join(ex_bands, "bk64")
        .select("inc_id", "ex_id")
        .distinct()
    )
    if broadcast_batch:
        # two consumers below (the verify join + its ex_id broadcast
        # prefilter): pin the batch-sized candidate relation so the
        # band join never re-executes for the broadcast branch
        cands = cands.cache()
        register_persisted(cands)
    ex_sets = ex_sigs.select("ex_id", "sset")
    if broadcast_batch:
        # verify prefilter: candidates' ex_ids (bounded by band fanout
        # on the batch) broadcast-semi the stored set relation — the
        # corpus's shingle sets never enter a shuffle
        ex_sets = ex_sets.join(
            F.broadcast(cands.select("ex_id").distinct()), "ex_id", "left_semi"
        )
    verified = (
        cands.join(inc_sigs.select("inc_id", F.col("sset").alias("set_a")), "inc_id")
        .join(ex_sets.select("ex_id", F.col("sset").alias("set_b")), "ex_id")
        .select("inc_id", "ex_id", *_set_counts("set_a", "set_b"))
        .withColumn("jaccard", _jaccard())
        .where(F.col("jaccard") >= threshold)
    )
    best = verified.withColumn(
        "_rn",
        F.row_number().over(
            Window.partitionBy("inc_id").orderBy(
                F.col("jaccard").desc(), F.col("ex_id").asc()
            )
        ),
    ).where(F.col("_rn") == 1)
    near = best.select(
        "inc_id",
        F.lit("near").alias("verdict"),
        F.col("ex_id").alias("matched_id"),
        "n_inter",
        "n_a",
        "n_b",
        "jaccard",
    )
    exact_full = exact.select(
        "inc_id",
        "verdict",
        "matched_id",
        F.lit(None).cast("int").alias("n_inter"),
        F.lit(None).cast("int").alias("n_a"),
        F.lit(None).cast("int").alias("n_b"),
        F.lit(1.0).alias("jaccard"),
    )
    matched = exact_full.unionByName(near)
    return (
        inc.select("inc_id")
        .join(matched, "inc_id", "left")
        .select(
            F.col("inc_id").alias(id_col),
            F.coalesce(F.col("verdict"), F.lit("new")).alias("verdict"),
            "matched_id",
            "n_inter",
            "n_a",
            "n_b",
            "jaccard",
        )
    )


def dedup_line_spans(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    span_lines: int = 3,
) -> DataFrame:
    """C4's corpus-level span dedup (Raffel et al. 2020 §2.2, public):
    every ``span_lines``-consecutive-line window ("three-sentence
    span" in the paper; this engine's line unit matches
    :func:`~transcriptomics_data_integration_spark.llmdata.text.c4_filter`)
    that occurs more than once in the corpus is removed from every
    document EXCEPT its canonical first occurrence — the smallest
    (id, start index).  Complements :func:`dedup_paragraphs` (single-
    unit, keep-one-globally) and :func:`mask_frequent_ngrams`
    (mask-everywhere): C4's rule keeps exactly one copy of the whole
    SPAN and drops every line the other occurrences cover.

    Plan shape (the ngram_span_mask discipline): line split + span
    windows are in-plan array algebra; the canonical occurrence is a
    map-side-combinable min(struct) per span digest (no window over
    the corpus); duplicate-cover positions explode bounded by
    span_lines; removal is one anti-join on (id, line index); rebuild
    aggregates each doc's surviving lines in order.  Shuffles are all
    keyed by span digest or doc id — linear, AQE-coalescible.

    Output: (id, n_lines, n_removed, clean_text) — clean_text the
    surviving lines re-joined by newline ('' if none survive).
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("_i", "_line"),
    )
    base = df.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), "\n")).alias("n_lines"),
    )
    spans = df.select(
        F.col(id_col),
        F.expr(
            f"CASE WHEN size(split({text_col}, '\\n')) < {span_lines} THEN array() "
            f"ELSE transform(sequence(1, size(split({text_col}, '\\n')) - {span_lines - 1}), "
            f"s -> struct(s - 1 AS start, "
            f"md5(array_join(slice(split({text_col}, '\\n'), s, {span_lines}), '\\n')) AS dig)) END"
        ).alias("_sp"),
    ).select(id_col, F.explode("_sp").alias("sp")).select(
        id_col, F.col("sp.start").alias("_start"), F.col("sp.dig").alias("_dig")
    )
    per_dig = spans.groupBy("_dig").agg(
        F.count(F.lit(1)).alias("_n"),
        F.min(F.struct(F.col(id_col).alias("i"), F.col("_start").alias("s"))).alias("_canon"),
    )
    dup_occ = (
        spans.join(per_dig, "_dig")
        .where(
            (F.col("_n") > 1)
            & ~(
                (F.col(id_col) == F.col("_canon.i"))
                & (F.col("_start") == F.col("_canon.s"))
            )
        )
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("_start"), F.col("_start") + F.lit(span_lines - 1))
            ).alias("_i"),
        )
        .distinct()
    )
    kept = lines.join(dup_occ, [id_col, "_i"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("_i"), F.col("_line")))
                ),
                lambda s: s["_line"],
            ),
            "\n",
        ).alias("clean_text"),
    )
    return (
        base.join(rebuilt, id_col, "left")
        .select(
            id_col,
            "n_lines",
            (F.col("n_lines") - F.coalesce(F.col("_n_kept"), F.lit(0))).alias("n_removed"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )
