"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  Cross-join of queries x candidates with an ordered fold for the dot
  product (bit-reproducible; no FMA, fixed order).  Cost O(Q * N * d):
  fine for moderate Q; the scale path is below.
- ``lsh_bucketed_topk``: random-hyperplane LSH — hyperplane sign bits
  come from the deterministic md5-based generator, so buckets are
  reproducible.  Candidates = same bucket; exact re-rank inside.  At
  100 TB this turns the N x N problem into per-bucket work with one
  shuffle on the bucket key.

- ``ivf_topk``: k-means coarse quantizer + probed exact re-rank — the
  inverted-file billion-scale layout (shuffle key = cell id).
- ``pq_train`` / ``pq_encode`` / ``pq_topk``: product quantization —
  d floats -> m byte codes, ADC lookup-table search; the
  memory-compression path that lets a 100 TB embedding corpus live at
  RAM scale.  Arrow-batched numpy, never per-row Python.
- ``quantize_embeddings``: int8 scalar quantization.

The exact paths avoid Python UDFs entirely: the fold is Spark's
``aggregate`` higher-order function, JVM-side.  ``cosine_topk`` is the
ORACLE BASELINE — quadratic by construction; route scaled workloads to
``lsh_bucketed_topk`` / ``ivf_topk`` / ``pq_topk`` / ``cosine_neardup_pairs``.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from transcriptomics_data_integration_spark.llmdata.dedup import _banded_pairs, _bit_bands


_FOLD_UNROLL_MAX = 16  # flat-unroll ceiling (janino 64 KB, measured r11)


def _dot(a: str, b: str, dim: int | None = None) -> Column:
    """Dot product of two array columns as a left fold.

    ``dim`` (r11, guide §4.1): when the vector width is statically
    known AND <= ``_FOLD_UNROLL_MAX``, the fold UNROLLS to
    ``0.0 + t1 + t2 + ...`` — SQL ``+`` is left-associative, so the
    IEEE addition sequence ``(((0+t1)+t2)+…)`` is IDENTICAL to the
    interpreted ``aggregate`` lambda's, bit for bit, while the flat
    expression stays inside whole-stage codegen (HOF lambdas are
    interpreted per element).  MEASURED LIMITS (r11, both negatives —
    do not re-attempt):

    - FLAT unroll past ~16 terms: a single expression tree cannot be
      split across generated methods, so the ANSI ``element_at``
      checks blow janino's 64 KB method cap and the WHOLE stage falls
      back to interpreted — cosine_neardup timed 1.7 -> 16.7 s with a
      flat dim=64 unroll.
    - CHUNKED wide fold (``aggregate`` over 8-term chunk indices,
      same addition order, never handed to janino): bit-identical and
      0.72 vs 0.96 s on an ISOLATED checkpointed 400k-pair table
      (OPTIMIZATION_r11.md §13), but a consistent net LOSS inside the
      real queries — same-session A/B with ONLY the chunk toggled:
      cosine_topk 1.38 -> 2.47, ivf_fixed 2.00 -> 3.46, semdedup
      1.52 -> 2.49.  In situ the fold shares its stage with scans,
      joins and windows, and the chunk variant's per-term interpreted
      ``element_at`` calls (bounds+null checked, boxed) cost more
      than the per-element lambda it replaces; the isolated probe's
      win did not transfer.  Wide dims therefore KEEP the per-element
      lambda below.

    ANSI note: ``element_at`` past the array end raises — callers
    pass ``dim`` only under a fixed-width contract, where an error is
    a loud contract violation, never a silent wrong sum.  The guard is
    one-sided: arrays SHORTER than ``dim`` raise, but arrays LONGER
    than an unrolled ``dim`` silently sum only the first ``dim`` terms
    — the fixed-width contract covers both directions, and no repo
    caller passes a dim below the stored width."""
    if dim is not None and dim <= _FOLD_UNROLL_MAX:
        terms = " + ".join(
            f"CAST(element_at({a}, {i}) AS DOUBLE) * "
            f"CAST(element_at({b}, {i}) AS DOUBLE)"
            for i in range(1, dim + 1)
        )
        return F.expr(f"(CAST(0 AS DOUBLE) + {terms})")
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _norm2(a: str, dim: int | None = None) -> Column:
    """Sum of squares; same unroll contract (and same wide-fold
    negatives) as :func:`_dot`.  The squared-term chunk was even worse
    than the dot chunk — each chunked term evaluates ``element_at``
    TWICE per dim where the per-element lambda binds ``v`` once
    (ivf_fixed 2.1 -> 4.0 s with both squared-fold chunks engaged)."""
    if dim is not None and dim <= _FOLD_UNROLL_MAX:
        terms = " + ".join(
            f"CAST(element_at({a}, {i}) AS DOUBLE) * "
            f"CAST(element_at({a}, {i}) AS DOUBLE)"
            for i in range(1, dim + 1)
        )
        return F.expr(f"(CAST(0 AS DOUBLE) + {terms})")
    return F.expr(
        f"aggregate({a}, CAST(0 AS DOUBLE), "
        f"(acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))"
    )


def _l2_dist(a: str, b: str, dim: int | None = None) -> Column:
    """Squared L2 distance between an array column and a (double)
    center column; short widths unroll (the :func:`_dot` contract).
    Wide widths keep the zip_with lambda — chunking evaluates
    ``element_at`` FOUR times per dim vs the lambda's two bound reads
    (see :func:`_norm2`; the r11 A/B regression)."""
    if dim is not None and dim <= _FOLD_UNROLL_MAX:
        terms = " + ".join(
            f"(CAST(element_at({a}, {i}) AS DOUBLE) - element_at({b}, {i})) * "
            f"(CAST(element_at({a}, {i}) AS DOUBLE) - element_at({b}, {i}))"
            for i in range(1, dim + 1)
        )
        return F.expr(f"(CAST(0 AS DOUBLE) + {terms})")
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbours for each query vector.

    ``queries`` is a (possibly filtered) subset of ``embeddings`` with
    the same schema, and must be SMALL — it is broadcast as the build
    side of the exact tier's pair stage (guide §3.1), so it is subject
    to Spark's broadcast limits (8 GB / 512 M rows) and holds driver +
    executor memory.  For query sets beyond that (e.g. all-pairs kNN),
    use the banded/celled tiers (:func:`cosine_neardup_pairs`,
    ``ivf``/``pq``) or crossJoin without the hint and accept the
    nested-loop plan.  Self-matches are excluded.  Deterministic
    tie-break on candidate id.  ``dim``: pass the fixed vector width to
    unroll/chunk the per-pair fold (see :func:`_dot` — values
    bit-identical either way).
    """
    # r11 (guide §2.5 input parallelism): the exact tier's work is the
    # Q x N pair stage, which runs on the CANDIDATE scan's partitions —
    # a small single-file corpus arrives as ONE split, serializing the
    # whole quadratic stage on one core (measured: the entire sf0.1
    # query single-task).  Round-robin the candidate side up to the
    # session parallelism first: the shuffle moves N narrow rows, the
    # pair stage does Q x N folds — always amortized for Q > ~1.  On a
    # many-split corpus this is a no-op; per-row compute + a
    # deterministic (cosine, cand_id) tie-break make the result
    # partitioning-invariant.
    par = embeddings.sparkSession.sparkContext.defaultParallelism
    if embeddings.rdd.getNumPartitions() < par:
        embeddings = embeddings.repartition(par)
    # norms are per-vector, not per-pair: compute each once and carry the
    # scalar through the cross join (same fold expression -> identical
    # value, 1/3 of the per-pair flops)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.sqrt(_norm2(vec_col, dim)).alias("q_norm"),
    )
    c = embeddings.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("c_vec"),
        F.sqrt(_norm2(vec_col, dim)).alias("c_norm"),
    )
    # ANSI guard: a zero vector has no cosine — exclude before dividing
    # (same rule as cosine_neardup_pairs).  The query side is the small
    # side of the exact tier by contract — broadcast it DELIBERATELY
    # (guide §3.1) so the pair stage streams the repartitioned
    # candidates instead of nesting the loop the other way around.
    pairs = (
        F.broadcast(q.where(F.col("q_norm") > 0))
        .crossJoin(c.where(F.col("c_norm") > 0))
        .where(F.col("query_id") != F.col("cand_id"))
    )
    sim = pairs.withColumn(
        "cosine",
        _dot("q_vec", "c_vec", dim) / (F.col("q_norm") * F.col("c_norm")),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "cand_id", "rank", "cosine")
    )


def plane_weight(p: int, i: int) -> float:
    """Hyperplane component (p, i): md5("p:i") first 60 bits mapped to
    [-1, 1).  Mirrors the SQL generator
    ``CONV(SUBSTRING(MD5('p:i'),1,15),16,10) / 2^59 - 1`` bit-for-bit
    (the 60-bit int -> double cast rounds identically in IEEE-754)."""
    import hashlib

    h = int(hashlib.md5(f"{p}:{i}".encode()).hexdigest()[:15], 16)
    return float(h) / 576460752303423488.0 - 1.0


def plane_literals(p: int, dim: int) -> list[str]:
    """The plane's components as round-trip-exact E-notation literals —
    shared by the Spark expression and the DuckDB oracle so both engines
    fold the same doubles."""
    return [f"{plane_weight(p, i):.17e}" for i in range(dim)]


def hyperplane_bits(vec_col: str, n_planes: int, dim: int) -> Column:
    """LSH bucket id: sign bits of dot products with ``n_planes``
    pseudo-random hyperplanes.  Plane component (p, i) is derived from
    md5("p:i") mapped to [-1, 1) — deterministic, engine-reproducible.

    The plane matrix is materialized at plan-build time as literal
    arrays (via :func:`plane_weight`, same doubles as the in-SQL md5
    generator) instead of n_planes * dim md5 calls PER ROW — the fold
    order over elements is unchanged, so bucket ids are identical.
    """
    # r11 measured NEGATIVE (do not re-attempt): unrolling these folds
    # into n_planes x dim flat multiply-add chains generates "Code
    # grows beyond 64 KB" in janino (a single expression tree cannot be
    # split across methods), which drops the WHOLE stage to interpreted
    # execution — cosine_neardup timed 1.7 -> 16.7 s.  Unrolls only pay
    # below ~16 terms per expression (see _pq_sub_l2 / the bit_count
    # verifies); wide folds stay as lambdas.
    terms = []
    for p in range(n_planes):
        comps = ", ".join(plane_literals(p, dim))
        dot_p = (
            f"aggregate(zip_with({vec_col}, array({comps}), "
            f"(x, w) -> CAST(x AS DOUBLE) * w), "
            f"CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        terms.append(
            f"CASE WHEN ({dot_p}) > 0 THEN shiftleft(CAST(1 AS BIGINT), {p}) "
            f"ELSE CAST(0 AS BIGINT) END"
        )
    return F.expr("(" + " + ".join(terms) + ")")


def lsh_bucketed_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH
    bucket, then exact cosine re-rank.  Recall grows with fewer planes
    (bigger buckets); 8 planes ~ N/256 candidates per bucket."""
    bits = hyperplane_bits(vec_col, n_planes, dim)
    c = embeddings.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("c_vec"),
        bits.alias("bucket"),
        F.sqrt(_norm2(vec_col, dim)).alias("c_norm"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        bits.alias("bucket"),
        F.sqrt(_norm2(vec_col, dim)).alias("q_norm"),
    )
    # ANSI guard: zero-norm vectors have no cosine — exclude both sides
    pairs = (
        q.where(F.col("q_norm") > 0)
        .join(c.where(F.col("c_norm") > 0), "bucket")
        .where(F.col("query_id") != F.col("cand_id"))
    )
    sim = pairs.withColumn(
        "cosine",
        _dot("q_vec", "c_vec", dim) / (F.col("q_norm") * F.col("c_norm")),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "cand_id", "rank", "cosine")
    )


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 2,
    seed: int = 1,
) -> DataFrame:
    """IVF-style ANN: a k-means coarse quantizer assigns every vector to
    a cell; each query searches its ``n_probe`` nearest cells with exact
    cosine re-ranking.  The inverted-file structure is the standard
    billion-scale layout: the shuffle key is the cell id, per-cell work
    is |N|/n_cells on average, and recall is tuned by n_probe.

    Model-based (seeded k-means), so this is a rows-only-checked
    operator like the other MLlib kernels.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    feats = embeddings.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("c_vec"),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"),
    )
    model = KMeans(k=n_cells, seed=seed, featuresCol="features").fit(feats)
    centers = model.clusterCenters()
    assigned = model.transform(feats).select(
        "cand_id", "c_vec", F.col("prediction").alias("cell")
    )
    spark = embeddings.sparkSession
    centers_df = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centers)], ["cell", "center"]
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    return _ivf_search(assigned, centers_df, q, k, n_probe)


def _knuth_hash(col: str):
    """Overflow-safe Knuth multiplicative hash ``(id mod 2^32) * 2654435761
    mod 2^32``.  The naive ``id * 2654435761`` overflows BIGINT for ids
    above ~3.47e9 (a runtime error under ANSI mode) — plausible at
    crawl-scale id ranges.  Split the reduced id a = ah*2^16 + al, then
    a*K mod 2^32 = ((ah*K mod 2^16) * 2^16 + al*K) mod 2^32; every
    intermediate stays under 2^48.  Identical value to the naive form
    for ids < 2^32 (so existing gated hashes are unchanged).  Mirrored
    literally in the DuckDB oracles (suite_llm)."""
    return F.expr(
        f"((((({col} % 4294967296) DIV 65536) * 2654435761) % 65536) * 65536"
        f" + (({col} % 65536) * 2654435761)) % 4294967296"
    )


def _ivf_search(
    assigned: DataFrame,
    centers_df: DataFrame,
    q: DataFrame,
    k: int,
    n_probe: int,
    dim: int | None = None,
) -> DataFrame:
    """Shared IVF probe + re-rank: query -> ``n_probe`` nearest cells by
    euclidean distance to the (broadcast) centers, then exact cosine
    top-k within the probed cells.  ``assigned`` = (cand_id, c_vec,
    cell); ``q`` = (query_id, q_vec).  ``dim``: :func:`_dot` unroll."""
    qc = q.crossJoin(F.broadcast(centers_df)).withColumn(
        "dist", _l2_dist("q_vec", "center", dim)
    )
    w = Window.partitionBy("query_id").orderBy(F.col("dist").asc(), F.col("cell"))
    probes = (
        qc.withColumn("cell_rank", F.row_number().over(w))
        .where(F.col("cell_rank") <= n_probe)
        .select("query_id", "q_vec", "cell")
    )
    pairs = probes.join(assigned, "cell").where(F.col("query_id") != F.col("cand_id"))
    # ANSI guard: zero-norm vectors have no cosine — exclude before dividing
    sim = pairs.withColumn("_qn", F.sqrt(_norm2("q_vec", dim))).withColumn(
        "_cn", F.sqrt(_norm2("c_vec", dim))
    ).where((F.col("_qn") > 0) & (F.col("_cn") > 0)).withColumn(
        "cosine", _dot("q_vec", "c_vec", dim) / (F.col("_qn") * F.col("_cn"))
    )
    w2 = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    return (
        sim.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select("query_id", "cand_id", "rank", "cosine")
    )


def _hash_pick_centers(base: DataFrame, n_cells: int) -> DataFrame:
    """``n_cells`` deterministic coarse centers: the corpus vectors with
    the smallest Knuth multiplicative hash of their id — a reproducible
    random sample standing in for Lloyd iterations.  Distributed top-k
    (TakeOrderedAndProject), NOT a global window — the corpus never
    funnels through one task; only the n_cells-row result sees the
    cell-numbering window.  ``base`` = (cand_id, c_vec)."""
    hashed = base.withColumn("_h", _knuth_hash("cand_id"))
    picked = hashed.orderBy(F.col("_h"), F.col("cand_id")).limit(n_cells)
    return picked.select(
        (
            F.row_number().over(Window.orderBy(F.col("_h"), F.col("cand_id"))) - 1
        ).alias("cell"),
        F.col("c_vec").cast("array<double>").alias("center"),
    )


def _assign_to_centers(
    base: DataFrame, centers_df: DataFrame, dim: int | None = None
) -> DataFrame:
    """Nearest-center cell assignment (argmin L2, ties to the smaller
    cell id) -> (cand_id, c_vec, cell).  Argmin via min(struct):
    partially aggregable (the x n_cells blowup collapses map-side
    before any exchange), unlike a per-id window.  Struct comparison is
    (dist, cell, ...) lexicographic; cell is unique per candidate so
    the vector field is never compared.  ``dim``: :func:`_dot` unroll.

    r11 measured NEGATIVE (do not re-attempt): repartitioning a
    one-split ``base`` to session parallelism before the fold — the
    n x n_cells assignment fold is light enough that the round-robin
    shuffle (plus its sortBeforeRepartition local sort) costs more
    than the serial fold saves (ivf_fixed A/B regressed; contrast
    cosine_topk, whose Q x N pair stage IS heavy enough)."""
    ac = base.crossJoin(F.broadcast(centers_df)).withColumn(
        "dist", _l2_dist("c_vec", "center", dim)
    )
    return (
        ac.groupBy("cand_id")
        .agg(
            F.min(
                F.struct(F.col("dist"), F.col("cell"), F.col("c_vec").alias("v"))
            ).alias("_m")
        )
        .select("cand_id", F.col("_m.v").alias("c_vec"), F.col("_m.cell").alias("cell"))
    )


def ivf_fixed_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 2,
    dim: int | None = None,
) -> DataFrame:
    """IVF ANN with a DETERMINISTIC coarse quantizer — the
    hash-gateable twin of :func:`ivf_topk` (same inverted-file layout,
    probe schedule, and exact re-rank; only the codebook differs).

    Codebook: the ``n_cells`` corpus vectors with the smallest Knuth
    multiplicative hash of their id (``(id * 2654435761) mod 2^32`` —
    integer arithmetic, engine-exact) serve as centers, i.e. a
    reproducible random sample instead of Lloyd iterations — the
    classic "random vectors as coarse centroids" IVF bootstrap.  Cell
    assignment (argmin L2, ties to the smaller cell id) uses the same
    left-fold float arithmetic both engines evaluate identically, so
    every assignment, probe, and ranked result is hash-checkable.

    Same scale shape as ivf_topk: centers broadcast (n_cells x dim),
    assignment is a map-side fold + per-id top-1, search shuffles on
    the cell id only.
    """
    base = embeddings.select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("c_vec")
    )
    centers_df = _hash_pick_centers(base, n_cells)
    assigned = _assign_to_centers(base, centers_df, dim)
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    return _ivf_search(assigned, centers_df, q, k, n_probe, dim)


def cosine_neardup_pairs(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.99,
    n_planes: int = 24,
    n_bands: int = 2,
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicate PAIRS (threshold form of dedup,
    vs the top-k form of search): banded random-hyperplane LSH
    candidates + exact-cosine verification.

    The n_planes sign bits split into n_bands keys; vectors sharing ANY
    band key are candidates (both orientations of the classic
    sim ~ 1 - hamming/planes estimate).  Within a band bucket the join
    is quadratic — at larger corpora raise n_planes (keys get longer,
    buckets smaller) rather than scanning more candidates.  Each band
    row carries its vector and norm, so the band self-join
    (:func:`~.dedup._banded_pairs`, one shuffle on (band, key) that
    both sides read) verifies every candidate in place with a per-pair
    fold for the exact cosine — no join back to the vectors, and the
    hyperplane folds run once per vector.  Semantics (including LSH
    recall) are deterministic and engine-reproducible, so a SQL oracle
    can replay the whole pipeline.
    """
    rows = (
        embeddings.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("vec"),
            F.sqrt(_norm2(vec_col, dim)).alias("norm"),
            hyperplane_bits(vec_col, n_planes, dim).alias("_bits"),
        )
        .select(
            "id", "vec", "norm",
            F.explode(_bit_bands("_bits", n_bands, n_planes // n_bands)).alias("bb"),
        )
        .select("id", "vec", "norm", "bb.band", "bb.band_key")
    )
    # ANSI guard: a zero vector has no cosine — no division for it
    cosine = F.when(
        (F.col("norm_a") > 0) & (F.col("norm_b") > 0),
        _dot("vec_a", "vec_b", dim) / (F.col("norm_a") * F.col("norm_b")),
    )
    return _banded_pairs(
        rows, {"cosine": cosine}, F.col("cosine") >= threshold, shuffle=True
    )


def _pq_fixed_centers(base: DataFrame, m: int, n_cent: int) -> DataFrame:
    """(s, c, center) sub-centroid relation — ``n_cent`` hash-picked
    corpus vectors sliced into ``m`` subspaces; m * n_cent rows,
    broadcast-sized.  ``base`` = (cand_id, vec)."""
    hashed = base.withColumn("_h", _knuth_hash("cand_id"))
    picked = hashed.orderBy(F.col("_h"), F.col("cand_id")).limit(n_cent)
    numbered = picked.select(
        (
            F.row_number().over(Window.orderBy(F.col("_h"), F.col("cand_id"))) - 1
        ).alias("c"),
        F.col("vec").cast("array<double>").alias("cv"),
    )
    dsub_expr = f"size(cv) / {m}"
    return numbered.select(
        F.explode(F.expr(f"sequence(0, {m - 1})")).alias("s"), "c", "cv"
    ).select(
        "s",
        "c",
        F.expr(f"slice(cv, s * ({dsub_expr}) + 1, {dsub_expr})").alias("center"),
    )


def _pq_sub_l2(vec_expr: str, m: int, dim: int | None = None) -> str:
    """Ordered-fold squared L2 between ``vec_expr``'s subspace ``s``
    slice and the joined ``center`` column (both engines evaluate the
    identical left-to-right double chain).  With ``dim`` known the
    fold UNROLLS to dim/m flat terms — ``slice(v, s*d+1, d)[i]`` is
    ``v[s*d+i]``, so element indexing (with the runtime ``s`` column
    in the offset) replaces the interpreted lambda at identical values
    and order (the :func:`_dot` contract); this fold runs per
    (vector, subspace, sub-centroid) row — the PQ encode hot loop."""
    if dim is not None:
        dsub = dim // m
        terms = " + ".join(
            f"(CAST(element_at({vec_expr}, s * {dsub} + {i}) AS DOUBLE)"
            f" - element_at(center, {i})) * "
            f"(CAST(element_at({vec_expr}, s * {dsub} + {i}) AS DOUBLE)"
            f" - element_at(center, {i}))"
            for i in range(1, dsub + 1)
        )
        return f"(CAST(0 AS DOUBLE) + {terms})"
    return (
        f"aggregate(zip_with(slice({vec_expr}, s * (size({vec_expr}) / {m}) + 1, "
        f"size({vec_expr}) / {m}), center, "
        f"(x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
        f"CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _pq_fixed_codes(
    base: DataFrame, centers: DataFrame, m: int, dim: int | None = None
) -> DataFrame:
    """(cand_id, codes array) — argmin sub-centroid per subspace via a
    partially-aggregable min(struct), collected in s order."""
    exploded = base.select(
        "cand_id", "vec", F.explode(F.expr(f"sequence(0, {m - 1})")).alias("s")
    )
    scored = exploded.join(F.broadcast(centers), "s").withColumn(
        "dist", F.expr(_pq_sub_l2("vec", m, dim))
    )
    return (
        scored.groupBy("cand_id", "s")
        .agg(F.min(F.struct("dist", "c")).alias("_m"))
        .groupBy("cand_id")
        .agg(
            F.expr(
                "transform(sort_array(collect_list(struct(s, _m.c AS c))), x -> x.c)"
            ).alias("codes")
        )
    )


def pq_fixed_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    m: int = 8,
    n_cent: int = 16,
    dim: int | None = None,
) -> DataFrame:
    """Product-quantization ADC search with a DETERMINISTIC codebook —
    the hash-gateable twin of the ``pq_train``/``pq_encode``/``pq_topk``
    Arrow pipeline (rows-only ``pq_ann``), entirely in JVM codegen.

    Codebook: the ``n_cent`` corpus vectors with the smallest Knuth
    multiplicative id-hash, sliced into ``m`` subspaces (the same
    bootstrap as :func:`ivf_fixed_topk` — a reproducible sample instead
    of Lloyd).  Encode: per (vector, subspace), argmin L2 over the
    ``n_cent`` sub-centroids via a partially-aggregable min(struct);
    codes collect into an s-ordered array.  Search: per query, the
    m x n_cent LUT of partial squared distances flattens into one
    (s, c)-ordered array, and each candidate's asymmetric distance is
    an ORDERED fold ``acc + lut[s * n_cent + code_s]`` — the fold order
    is explicit on both engines (Spark ``aggregate``, DuckDB
    ``list_reduce``), so every distance, rank, and code is
    bitwise-reproducible and the whole PQ layout is oracle-replayable.

    Scale shape: encode is one broadcast join (m * n_cent sub-centroid
    rows) + one partial aggregate; the ADC scan is the standard
    codes x queries sweep with the LUT broadcast — the corpus side
    only ever carries its m-byte codes, never the original floats.
    """
    base = embeddings.select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("vec")
    )
    centers = _pq_fixed_centers(base, m, n_cent)
    codes = _pq_fixed_codes(base, centers, m, dim)
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    qex = q.select(
        "query_id", "qv", F.explode(F.expr(f"sequence(0, {m - 1})")).alias("s")
    )
    lut = (
        qex.join(F.broadcast(centers), "s")
        .withColumn("l2", F.expr(_pq_sub_l2("qv", m, dim)))
        .groupBy("query_id")
        .agg(
            F.expr(
                "transform(sort_array(collect_list(struct(s, c, l2))), x -> x.l2)"
            ).alias("lut")
        )
    )
    pairs = codes.crossJoin(F.broadcast(lut)).where(
        F.col("query_id") != F.col("cand_id")
    )
    # LUT stride derives from the LUT's ACTUAL length, not the requested
    # n_cent: when the corpus has fewer than n_cent vectors the codebook
    # (and every code) shrinks with it, and a fixed s*n_cent stride would
    # overrun the array (ANSI runtime error) — r3 ADVICE finding.
    # ``m`` is a small plan-time constant, so the ADC sum is UNROLLED
    # into m flat element_at terms instead of an ``aggregate`` fold:
    # lambda folds are interpreted per step per candidate x query pair
    # (the pq_fixed hot loop — r4 verdict item 3), while the unrolled
    # sum whole-stage-codegens.  Left-to-right addition preserves the
    # fold's summation order bitwise (partials are non-negative, so the
    # dropped 0.0 seed cannot flip a -0.0).
    stride = f"(size(lut) DIV {m})"
    adist = F.expr(
        " + ".join(
            f"element_at(lut, CAST({s} * {stride} "
            f"+ element_at(codes, {s + 1}) + 1 AS INT))"
            for s in range(m)
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adist").asc(), F.col("cand_id"))
    return (
        pairs.withColumn("adist", adist)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "cand_id", "rank", "adist")
    )


def semdedup(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    tau: float = 0.9,
    dim: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540) over an embedding corpus — the embedding-space
    complement of MinHash/SimHash text dedup:

    1. cluster the corpus into ``n_cells`` cells (here: the
       deterministic Knuth-hash-picked centers + argmin-L2 assignment
       shared with :func:`ivf_fixed_topk`, standing in for the paper's
       k-means exactly as in the IVF twin),
    2. within each cell, compute pairwise cosines (the SemDeDup trick:
       quadratic work only WITHIN cells, never corpus-wide),
    3. a vector is DROPPED iff some same-cell vector with cosine
       >= ``tau`` is keep-preferred — the paper keeps the member with
       the LOWEST cosine to its centroid (maximum diversity); ties
       break on smaller id.

    Zero-norm vectors have no cosine: every cosine is guarded to 0.0
    (below any sensible tau), so they are always kept and never define
    a duplicate — no ANSI division error.

    Output: one row per input vector — (id, cell, cos_centroid, kept).
    Deterministic end-to-end (ordered folds, explicit tie-breaks), so
    the whole operator is DuckDB-oracle-replayable.

    Scale shape: centers broadcast (n_cells rows); assignment is one
    map-side-combinable min(struct) aggregate; the pair sweep shuffles
    once on the cell key, and per-cell cost is |cell|^2 — at 100 TB
    raise n_cells so cells stay bounded (the paper uses ~10^5 clusters
    for 10^9 docs), which this layout absorbs without plan changes.
    """
    base = embeddings.select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("c_vec")
    )
    centers = _hash_pick_centers(base, n_cells)
    assigned = _assign_to_centers(base, centers, dim)
    cen = centers.withColumn("center_norm", F.sqrt(_norm2("center", dim)))
    scored = (
        assigned.join(F.broadcast(cen), "cell")
        .withColumn("_vnorm", F.sqrt(_norm2("c_vec", dim)))
        .withColumn(
            "cos_centroid",
            F.when(
                F.col("_vnorm") * F.col("center_norm") > 0,
                _dot("c_vec", "center", dim)
                / (F.col("_vnorm") * F.col("center_norm")),
            ).otherwise(F.lit(0.0)),
        )
        .select("cand_id", "cell", "c_vec", "_vnorm", "cos_centroid")
    )
    return _semdedup_flag(scored, id_col, tau, dim)


def _semdedup_flag(
    scored: DataFrame, id_col: str, tau: float, dim: int | None = None
) -> DataFrame:
    """Shared within-cell pair sweep + keep rule over a ``scored``
    relation (cand_id, cell, c_vec, _vnorm, cos_centroid) — the
    assignment-independent half of SemDeDup, used by both the flat
    (:func:`semdedup`) and two-level (:func:`semdedup_2level`)
    quantizer tiers."""
    from transcriptomics_data_integration_spark.runtime import register_persisted

    # three plan branches read this (both sides of the pair sweep +
    # the output join); without the cache the argmin assignment — the
    # probe-measured dominant cost — re-executes per branch.  Linear
    # in the corpus (MEMORY_AND_DISK), the standard trade for an
    # assignment consumed k times.
    scored = register_persisted(scored.persist())
    left = scored.select(
        F.col("cand_id").alias("a_id"),
        "cell",
        F.col("c_vec").alias("a_vec"),
        F.col("_vnorm").alias("a_norm"),
        F.col("cos_centroid").alias("a_cc"),
    )
    right = scored.select(
        F.col("cand_id").alias("b_id"),
        "cell",
        F.col("c_vec").alias("b_vec"),
        F.col("_vnorm").alias("b_norm"),
        F.col("cos_centroid").alias("b_cc"),
    )
    dropped = (
        left.join(right, "cell")
        .where(F.col("a_id") != F.col("b_id"))
        # keep-preference first: only pairs where b is preferred over a
        # can drop a — prunes half the sweep before the d-length fold
        .where(
            (F.col("b_cc") < F.col("a_cc"))
            | ((F.col("b_cc") == F.col("a_cc")) & (F.col("b_id") < F.col("a_id")))
        )
        .withColumn(
            "_cos",
            F.when(
                F.col("a_norm") * F.col("b_norm") > 0,
                _dot("a_vec", "b_vec", dim) / (F.col("a_norm") * F.col("b_norm")),
            ).otherwise(F.lit(0.0)),
        )
        .where(F.col("_cos") >= F.lit(tau))
        .select(F.col("a_id").alias("cand_id"))
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    return (
        scored.join(dropped, "cand_id", "left")
        .select(
            F.col("cand_id").alias(id_col),
            "cell",
            "cos_centroid",
            F.col("_dropped").isNull().alias("kept"),
        )
    )


def semdedup_2level(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    tau: float = 0.9,
    n_coarse: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """SemDeDup with a TWO-LEVEL coarse quantizer — the billion-scale
    assignment path (r5 verdict item 2).

    The flat tier's assignment is n*k*d; with cells scaled
    proportionally to the corpus (E[|cell|] constant, the SemDeDup
    paper's own setting of ~10^5 clusters for 10^9 docs) that is
    quadratic in n.  Here the codebook is split into ``n_coarse``
    level-1 groups (default ceil(sqrt(n_cells))): each CENTER is
    assigned to its nearest level-1 center (k * n_coarse, plan-bounded),
    and each vector is assigned first to a level-1 group
    (n * n_coarse) and then argmin-L2 among only that group's centers
    (n * E[k/n_coarse]) — total n * O(sqrt(k)) * d instead of n*k*d,
    ~linear in n when k grows with the corpus.

    Same arithmetic as :func:`semdedup` everywhere (integer-exact
    Knuth-hash center pick, SQL double folds, ties to the smaller cell
    id), so the output is engine-reproducible and DuckDB-oracleable.
    Assignment is APPROXIMATE exactly as IVF is: a vector lands in the
    nearest cell *within its level-1 group*, which can differ from the
    global argmin near group boundaries — the standard hierarchical
    k-means tradeoff the paper's own pipeline makes.  The keep rule
    within each cell is identical (:func:`_semdedup_flag`).

    Scale shape: both center tables broadcast; the level-2 blowup is a
    broadcast equi-join on the group key (map-side partial argmin), so
    the whole assignment is one shuffle-free pass over the corpus plus
    the two bounded center relations.
    """
    if n_coarse is None:
        n_coarse = max(1, int(math.isqrt(max(n_cells - 1, 0))) + 1)
    base = embeddings.select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("c_vec")
    )
    centers = _hash_pick_centers(base, n_cells)
    # level-1 groups: the first n_coarse centers in the deterministic
    # cell numbering (a hash-random subset, like the codebook itself)
    coarse = centers.where(F.col("cell") < n_coarse).select(
        F.col("cell").alias("g"), F.col("center").alias("gcenter")
    )
    # each center joins its nearest level-1 group (bounded k rows)
    cen_g = (
        centers.crossJoin(F.broadcast(coarse))
        # both arrays are already double, so the unrolled _l2_dist's
        # CAST is an identity — same values as the bare (x-y)*(x-y) fold
        .withColumn("_d", _l2_dist("center", "gcenter", dim))
        .groupBy("cell")
        .agg(F.min(F.struct(F.col("_d"), F.col("g"), F.col("center").alias("v"))).alias("_m"))
        # a group center always belongs to its OWN group (distance 0;
        # only exact-duplicate ties could reassign it) — guarantees
        # every group a vector can reach at level 1 has members, so
        # the level-2 inner join never drops a vector
        .select(
            F.when(F.col("cell") < n_coarse, F.col("cell"))
            .otherwise(F.col("_m.g"))
            .alias("g"),
            "cell",
            F.col("_m.v").alias("center"),
        )
    )
    # vector level-1 assignment: argmin over the n_coarse group centers
    l1 = _assign_to_centers(
        base,
        coarse.select(F.col("g").alias("cell"), F.col("gcenter").alias("center")),
        dim,
    ).select("cand_id", "c_vec", F.col("cell").alias("g"))
    # vector level-2 assignment: argmin among the group's centers only
    assigned = (
        l1.join(F.broadcast(cen_g), "g")
        .withColumn("dist", _l2_dist("c_vec", "center", dim))
        .groupBy("cand_id")
        .agg(
            F.min(
                F.struct(
                    F.col("dist"),
                    F.col("cell"),
                    F.col("c_vec").alias("v"),
                    F.col("center").alias("cen"),
                )
            ).alias("_m")
        )
        .select(
            "cand_id",
            F.col("_m.v").alias("c_vec"),
            F.col("_m.cell").alias("cell"),
            F.col("_m.cen").alias("center"),
        )
    )
    scored = (
        assigned.withColumn("center_norm", F.sqrt(_norm2("center", dim)))
        .withColumn("_vnorm", F.sqrt(_norm2("c_vec", dim)))
        .withColumn(
            "cos_centroid",
            F.when(
                F.col("_vnorm") * F.col("center_norm") > 0,
                _dot("c_vec", "center", dim)
                / (F.col("_vnorm") * F.col("center_norm")),
            ).otherwise(F.lit(0.0)),
        )
        .select("cand_id", "cell", "c_vec", "_vnorm", "cos_centroid")
    )
    return _semdedup_flag(scored, id_col, tau, dim)


def semdedup_arrow(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    tau: float = 0.9,
) -> DataFrame:
    """Arrow scale path of :func:`semdedup` — same cells, same
    keep-lowest-centroid-cosine rule, with BLAS doing the work: the
    assignment is a chunked single-GEMM argmin (1 024 cells per chunk
    — bounded temporaries, bitwise-identical cell choice; r6) and the
    within-cell pair sweep is the blocked preference-order pass of
    :func:`_make_arrow_sweep` (O(block * |cell|) peak memory under the
    measured Voronoi skew).  Float summation order differs from the
    JVM folds, so this is the rows-only tier (the ivf_ann / ivf_fixed
    split) — kept flags match the JVM path except for cosines within
    float error of ``tau``.

    Probed at 1M/3.3M/10M vectors with cells ∝ corpus (PLANS.md r6):
    23 / 117 / 246 s — the fastest tier through k ≈ 5 000; at the
    SemDeDup paper's k ~ 10^5 the n*k*d assignment flops take over and
    :func:`semdedup_arrow_2level` is the right tier.
    """
    import numpy as np
    import pandas as pd

    base = embeddings.select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("c_vec")
    )
    # the bounded center matrix is collected at plan build (n_cells x d
    # doubles) and shipped in the task closure, so assignment + scoring
    # are one numpy pass — no per-vector JVM folds anywhere in this path
    id_type = base.schema["cand_id"].dataType.simpleString()
    vec_type = base.schema["c_vec"].dataType.simpleString()
    out_schema = (
        f"cand_id {id_type}, cell int, cos_centroid double, kept boolean"
    )
    center_rows = _hash_pick_centers(base, n_cells).orderBy("cell").collect()
    if not center_rows:
        # empty corpus: no centers — short-circuit with an empty result
        # instead of letting a 1-D empty C break the axis=1 reductions
        spark = embeddings.sparkSession
        return spark.createDataFrame([], out_schema).select(
            F.col("cand_id").alias(id_col), "cell", "cos_centroid", "kept"
        )
    C = np.asarray([list(r["center"]) for r in center_rows], dtype=np.float64)
    c_norm2 = (C * C).sum(axis=1)

    def assign_score(batches):
        # chunked argmin over the codebook (r6): the one-shot form
        # materialized an n_batch x k distance matrix (400 MB per
        # Arrow batch at k=5000 — the measured 10M-flat collapse,
        # PLANS.md) AND ran the V @ C.T GEMM twice (once for
        # distances, once for the picked dot products).  Chunking
        # bounds the temporaries at n_batch x 1024 and reuses one
        # GEMM per chunk; assignment is bitwise identical (same d2
        # elements; within-chunk argmin takes the first minimum and
        # the strict < across chunks keeps the earlier = smaller
        # cell, exactly the flat argmin's tie rule).
        chunk = 1024
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["c_vec"]]
            )
            n = len(V)
            vn2 = (V * V).sum(axis=1)
            rows = np.arange(n)
            best_d2 = np.full(n, np.inf)
            best_cell = np.zeros(n, dtype=np.int64)
            best_vc = np.zeros(n)
            for s in range(0, C.shape[0], chunk):
                e = min(s + chunk, C.shape[0])
                G = V @ C[s:e].T
                d2 = vn2[:, None] - 2.0 * G + c_norm2[s:e][None, :]
                loc = d2.argmin(axis=1)
                ld2 = d2[rows, loc]
                upd = ld2 < best_d2
                best_d2[upd] = ld2[upd]
                best_cell[upd] = loc[upd] + s
                best_vc[upd] = G[rows, loc][upd]
            cell = best_cell
            vn = np.sqrt(vn2)
            cn = np.sqrt(c_norm2[cell])
            denom = vn * cn
            cc = np.where(denom > 0, best_vc / np.where(denom > 0, denom, 1.0), 0.0)
            yield pd.DataFrame(
                {
                    "cand_id": pdf["cand_id"].to_numpy(),
                    "cell": cell.astype(np.int32),
                    "c_vec": pdf["c_vec"],
                    "cos_centroid": cc,
                }
            )

    scored = base.mapInPandas(
        assign_score,
        schema=f"cand_id {id_type}, cell int, c_vec {vec_type}, cos_centroid double",
    )

    out = scored.groupBy("cell").applyInPandas(
        _make_arrow_sweep(tau), schema=out_schema
    )
    return out.select(
        F.col("cand_id").alias(id_col), "cell", "cos_centroid", "kept"
    )


def _make_arrow_sweep(tau: float, block: int = 1024):
    """Per-cell BLAS pair sweep for the Arrow SemDeDup tiers.  Drop
    rule: a row is dropped iff some EARLIER row in (cos_centroid, id)
    preference order is >= tau similar — identical to the JVM pair
    sweep.

    BLOCKED evaluation (r6): hash-picked centers produce skewed
    Voronoi cells (measured at 1 M vectors / 500 cells: max |cell|
    21 347 vs median 1 205 — distance concentration in high dim), and
    the r5 full-matrix form materialized S (|cell|^2 doubles), a
    fancy-index permuted copy, and two boolean temporaries — ~8 GB of
    allocation churn for the largest cell.  Instead: sort once into
    preference order, then for each ~1k-row block compute only
    ``block x prefix`` similarities against the rows that precede it
    (same flops, O(block * |cell|) peak memory, no permutation copy).
    Measured 1 M x 500 cells: sweep stage 235 s -> see PLANS.md r6.
    """
    import numpy as np
    import pandas as pd

    def sweep(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["cand_id"].to_numpy()
        cc = pdf["cos_centroid"].to_numpy()
        V = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["c_vec"]])
        norms = np.sqrt((V * V).sum(axis=1))
        safe = norms > 0
        Vn = np.where(safe[:, None], V / np.where(safe, norms, 1.0)[:, None], 0.0)
        n = len(ids)
        order = np.lexsort((ids, cc))
        Vo = Vn[order]
        dropped_ord = np.zeros(n, dtype=bool)
        # row 0 is never dropped; evaluate blocks against their prefix
        for s in range(1, n, block):
            e = min(s + block, n)
            sim = Vo[s:e] @ Vo[:e].T  # (e-s) x e, bounded
            hit = sim >= tau
            drop = hit[:, :s].any(axis=1)
            # intra-block: row s+j compares to columns s..s+j-1
            intra = np.tril(hit[:, s:e], -1).any(axis=1)
            dropped_ord[s:e] = drop | intra
        dropped = np.empty(n, dtype=bool)
        dropped[order] = dropped_ord
        return pd.DataFrame(
            {
                "cand_id": ids,
                "cell": pdf["cell"].to_numpy(),
                "cos_centroid": cc,
                "kept": ~dropped,
            }
        )

    return sweep


def semdedup_arrow_2level(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    tau: float = 0.9,
    n_coarse: int | None = None,
) -> DataFrame:
    """Arrow/BLAS tier of :func:`semdedup_2level` — the BILLION-SCALE
    assignment path.  Identical two-level cell semantics (level-1
    group via the first ``n_coarse`` hash-picked centers, then argmin
    among that group's centers, ties to the smaller cell id), with the
    assignment running as numpy matmuls per Arrow batch:
    ``n x n_coarse`` for level 1 plus ``n x E[k/n_coarse]`` for level 2
    — n * O(sqrt(k)) * d total, ~linear in n when k scales with the
    corpus (probed at 10 M vectors, PLANS.md r6).

    The (k x d) codebook is shipped via ``SparkContext.broadcast``
    (torrent, one copy per executor) rather than closure capture —
    at the paper's 10^5-center scale the codebook is tens-to-hundreds
    of MB, beyond task-closure hygiene.  Float summation order differs
    from the JVM folds, so like :func:`semdedup_arrow` this is the
    rows-only tier: kept flags match :func:`semdedup_2level` except
    for cosines within float error of ``tau``.
    """
    import numpy as np
    import pandas as pd

    base = embeddings.select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("c_vec")
    )
    id_type = base.schema["cand_id"].dataType.simpleString()
    vec_type = base.schema["c_vec"].dataType.simpleString()
    out_schema = (
        f"cand_id {id_type}, cell int, cos_centroid double, kept boolean"
    )
    center_rows = _hash_pick_centers(base, n_cells).orderBy("cell").collect()
    if not center_rows:
        spark = embeddings.sparkSession
        return spark.createDataFrame([], out_schema).select(
            F.col("cand_id").alias(id_col), "cell", "cos_centroid", "kept"
        )
    C = np.asarray([list(r["center"]) for r in center_rows], dtype=np.float64)
    k = C.shape[0]
    if n_coarse is None:
        n_coarse = max(1, int(math.isqrt(max(n_cells - 1, 0))) + 1)
    n_coarse = min(n_coarse, k)
    C1 = C[:n_coarse]
    # center -> level-1 group (k x n_coarse, plan-bounded; argmin ties
    # to the smaller group id = np.argmin's first-hit rule)
    d2_cg = (
        (C * C).sum(axis=1)[:, None]
        - 2.0 * (C @ C1.T)
        + (C1 * C1).sum(axis=1)[None, :]
    )
    grp_of_center = d2_cg.argmin(axis=1)
    # a group center always belongs to its OWN group (mirrors the JVM
    # tier: only exact-duplicate ties could reassign it, which would
    # leave the group empty for the vectors that tie-break into it)
    grp_of_center[:n_coarse] = np.arange(n_coarse)
    # per-group member lists, cell ids ascending (tie rule)
    members = [np.flatnonzero(grp_of_center == g) for g in range(n_coarse)]
    sc = embeddings.sparkSession.sparkContext
    bc = sc.broadcast((C, C1, members))

    def assign_score(batches):
        Cb, C1b, mem = bc.value
        c1n2 = (C1b * C1b).sum(axis=1)
        cn2 = (Cb * Cb).sum(axis=1)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["c_vec"]]
            )
            vn2 = (V * V).sum(axis=1)
            g = (
                vn2[:, None] - 2.0 * (V @ C1b.T) + c1n2[None, :]
            ).argmin(axis=1)
            cell = np.empty(len(V), dtype=np.int64)
            vc = np.empty(len(V), dtype=np.float64)
            for gg in np.unique(g):
                idx = mem[gg]
                rows = np.flatnonzero(g == gg)
                if len(idx) == 0:
                    # a group with no members keeps its level-1 center
                    # as the cell (gg < n_coarse <= k is a real cell)
                    idx = np.asarray([gg])
                sub = V[rows] @ Cb[idx].T
                d2 = vn2[rows][:, None] - 2.0 * sub + cn2[idx][None, :]
                pick = d2.argmin(axis=1)
                cell[rows] = idx[pick]
                vc[rows] = sub[np.arange(len(rows)), pick]
            vn = np.sqrt(vn2)
            cn = np.sqrt(cn2[cell])
            denom = vn * cn
            cc = np.where(denom > 0, vc / np.where(denom > 0, denom, 1.0), 0.0)
            yield pd.DataFrame(
                {
                    "cand_id": pdf["cand_id"].to_numpy(),
                    "cell": cell.astype(np.int32),
                    "c_vec": pdf["c_vec"],
                    "cos_centroid": cc,
                }
            )

    scored = base.mapInPandas(
        assign_score,
        schema=f"cand_id {id_type}, cell int, c_vec {vec_type}, cos_centroid double",
    )
    out = scored.groupBy("cell").applyInPandas(
        _make_arrow_sweep(tau), schema=out_schema
    )
    return out.select(
        F.col("cand_id").alias(id_col), "cell", "cos_centroid", "kept"
    )


def quantize_embeddings(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|v| / 127,
    q_i = round(v_i / scale) — a 4x storage cut for embedding columns
    (float32 -> int8), the standard trick for vector corpora at 100 TB.

    All arithmetic is plain SQL on JVM doubles (round ties away from
    zero in both Spark and DuckDB), so quantized codes are
    engine-reproducible.  Zero vectors quantize to zero codes with
    scale 0 (guarded division).
    """
    scale = F.expr(
        f"aggregate({vec_col}, CAST(0 AS DOUBLE), "
        f"(acc, v) -> greatest(acc, abs(CAST(v AS DOUBLE)))) / 127.0"
    )
    out = embeddings.select(F.col(id_col), F.col(vec_col), scale.alias("scale"))
    codes = F.expr(
        f"transform({vec_col}, v -> CAST(round(CAST(v AS DOUBLE) / scale) AS INT))"
    )
    return out.select(
        id_col,
        "scale",
        F.when(F.col("scale") > 0, codes)
        .otherwise(F.expr(f"transform({vec_col}, v -> 0)"))
        .alias("codes"),
    )


def quantization_error(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Reconstruction-error report for int8 quantization: per vector,
    the max absolute error and mean squared error of dequantized codes
    (code * scale) vs the original floats.  Bounds the retrieval-recall
    cost of the 4x storage cut; max_err <= scale/2 by construction."""
    q = quantize_embeddings(embeddings, id_col, vec_col)
    both = q.join(embeddings.select(id_col, vec_col), id_col)
    return both.select(
        id_col,
        "scale",
        F.expr(
            f"aggregate(zip_with({vec_col}, codes, "
            f"(v, c) -> abs(CAST(v AS DOUBLE) - c * scale)), "
            f"CAST(0 AS DOUBLE), (acc, e) -> greatest(acc, e))"
        ).alias("max_err"),
        F.expr(
            f"aggregate(zip_with({vec_col}, codes, "
            f"(v, c) -> (CAST(v AS DOUBLE) - c * scale) * (CAST(v AS DOUBLE) - c * scale)), "
            f"CAST(0 AS DOUBLE), (acc, e) -> acc + e) / size({vec_col})"
        ).alias("mse"),
    )


def pq_train(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    sample_cap: int = 20_000,
    n_iter: int = 10,
    seed: int = 1,
):
    """Train product-quantization codebooks (Jegou et al. 2011): split
    the dimension into ``m`` subspaces, run seeded Lloyd k-means with
    ``k`` centroids per subspace.

    Training runs on the DRIVER over a deterministic hash-sample of at
    most ``sample_cap`` vectors — the FAISS-standard practice: the
    codebooks are m*k*(d/m) floats (tiny) and k-means on a bounded
    sample is statistically sufficient; the full corpus is only ever
    touched by the distributed encode/search passes.  Deterministic:
    xxhash64 sampling + seeded numpy init.

    Returns (codebooks ndarray [m, k, d_sub], sub_dims list).
    """
    import numpy as np

    total = embeddings.count()
    frac_mod = max(1, total // sample_cap)
    # orderBy BEFORE the cap: .limit() alone takes a partitioning-
    # dependent subset whenever the hash filter passes more than
    # sample_cap rows (e.g. any corpus under 2*sample_cap has
    # frac_mod=1 and passes everything), which made the codebooks —
    # and every downstream pq_encode/pq_topk result — depend on
    # cluster layout.  Ordering by the same xxhash64 (id tiebreak)
    # makes the training sample a pure function of the data.
    sample = (
        embeddings.where(F.xxhash64(F.col(id_col)) % frac_mod == 0)
        .orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
        .limit(sample_cap)
        .select(F.col(vec_col).cast("array<double>").alias("v"))
        .collect()
    )
    X = np.array([r["v"] for r in sample])
    d = X.shape[1]
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    rng = np.random.RandomState(seed)
    books = np.zeros((m, k, dsub))
    for s in range(m):
        Xs = X[:, s * dsub:(s + 1) * dsub]
        init_idx = rng.permutation(len(Xs))[:k]
        C = Xs[init_idx].copy()
        for _ in range(n_iter):
            d2 = ((Xs[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k):
                mask = assign == c
                if mask.any():
                    C[c] = Xs[mask].mean(axis=0)
        books[s] = C
    return books, [dsub] * m


def pq_encode(
    embeddings: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed PQ encode: each vector -> m uint8 codes (nearest
    centroid per subspace).  Codebooks broadcast inside the Arrow
    closure; per-batch numpy argmin — no per-row Python.  Output is
    (id, codes array<int>): d floats compressed to m bytes, the layout
    that lets a 100 TB embedding corpus sit in RAM-scale storage."""
    import numpy as np
    import pandas as pd

    books = codebooks
    m, k, dsub = books.shape

    def encode(it):
        for pdf in it:
            V = np.array(pdf["_v"].tolist())
            codes = np.zeros((len(V), m), dtype=np.int64)
            for s in range(m):
                Vs = V[:, s * dsub:(s + 1) * dsub]
                d2 = ((Vs[:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
                codes[:, s] = d2.argmin(axis=1)
            yield pd.DataFrame({"_id": pdf["_id"], "codes": list(codes)})

    prepped = embeddings.select(
        F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("_v")
    )
    id_t = dict(prepped.dtypes)["_id"]
    out = prepped.mapInPandas(encode, schema=f"_id {id_t}, codes array<bigint>")
    return out.withColumnRenamed("_id", id_col)


def pq_topk(
    codes_df: DataFrame,
    queries: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """ADC (asymmetric distance computation) search: per query build
    the m x k lookup table of squared partial distances to every
    centroid, broadcast the tables, and score each candidate's m codes
    with numpy gathers inside mapInPandas — O(m) table lookups per
    candidate instead of O(d) float ops, and the corpus side only ever
    streams its byte codes.  Exact re-ranking of the PQ top-k against
    original vectors composes downstream (same contract as lsh/ivf)."""
    import numpy as np
    import pandas as pd

    books = codebooks
    m, kcent, dsub = books.shape
    qrows = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).cast("array<double>").alias("qv")
    ).collect()
    qids = [r["qid"] for r in qrows]
    Q = np.array([r["qv"] for r in qrows])
    # LUT[q, s, c] = || Q[q, sub s] - centroid c of subspace s ||^2
    LUT = np.zeros((len(qids), m, kcent))
    for s in range(m):
        Qs = Q[:, s * dsub:(s + 1) * dsub]
        LUT[:, s, :] = ((Qs[:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)

    def score(it):
        for pdf in it:
            C = np.array(pdf["codes"].tolist())  # [n, m]
            # adist[q, n] = sum_s LUT[q, s, C[n, s]]
            n = len(C)
            out_frames = []
            gathered = LUT[:, np.arange(m)[None, :], C[:, :]]  # [q, n, m]
            adist = gathered.sum(axis=2)  # [q, n]
            for qi, qid in enumerate(qids):
                out_frames.append(pd.DataFrame({
                    "query_id": [qid] * n,
                    "cand_id": pdf["_id"].to_numpy(),
                    "adist": adist[qi],
                }))
            yield pd.concat(out_frames, ignore_index=True)

    prepped = codes_df.select(F.col(id_col).alias("_id"), "codes")
    id_t = dict(prepped.dtypes)["_id"]
    scored = prepped.mapInPandas(
        score, schema=f"query_id {id_t}, cand_id {id_t}, adist double"
    )
    scored = scored.where(F.col("query_id") != F.col("cand_id"))
    w = Window.partitionBy("query_id").orderBy(F.col("adist").asc(), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "cand_id", "rank", "adist")
    )


def prototype_prune(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    keep_frac: float = 0.5,
    round_dp: int = 6,
    dim: int | None = None,
) -> DataFrame:
    """SSL-prototype data pruning (Sorscher et al. 2022, "Beyond
    neural scaling laws", public): score every vector by its cosine to
    its cluster prototype — high cosine = prototypical/easy, low =
    hard — and, per cluster, KEEP the hardest ``keep_frac`` (the
    paper's abundant-data regime, where pruning easy examples beats
    random and can beat power-law scaling).

    Determinism: prototypes are the :func:`ivf_fixed_topk` hash-picked
    codebook (Knuth-hash sample, engine-exact), cell assignment is the
    same argmin-L2 ordered fold, and ranking uses the ``round_dp``-
    rounded cosine (ulp-stable boundaries) with id tiebreak — the
    whole layout is oracle-replayable.

    Scale shape: centers broadcast (n_cells x dim); assignment is the
    map-side-combinable min(struct) — no per-id window; the keep rank
    partitions by CELL (per-cell candidate lists).  Note the per-cell
    window means cells should be sized (n_cells ~ n/10^5) so a cell
    fits a task at the target corpus — same contract as semdedup.

    Output: (id, cell, cos_to_proto, cell_rank, n_cell, kept).
    """
    base = embeddings.select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("c_vec")
    )
    centers = _hash_pick_centers(base, n_cells)
    assigned = _assign_to_centers(base, centers, dim)
    cos = (
        assigned.join(F.broadcast(centers), "cell")
        .withColumn(
            "_cos",
            F.round(
                _dot("c_vec", "center", dim)
                / (
                    F.sqrt(_dot("c_vec", "c_vec", dim))
                    * F.sqrt(_dot("center", "center", dim))
                ),
                round_dp,
            ),
        )
        .select("cand_id", "cell", "_cos")
    )
    w = Window.partitionBy("cell").orderBy(
        F.col("_cos").asc(), F.col("cand_id").asc()
    )
    ranked = cos.withColumn("cell_rank", F.row_number().over(w)).withColumn(
        "n_cell", F.count(F.lit(1)).over(Window.partitionBy("cell"))
    )
    return ranked.select(
        F.col("cand_id").alias(id_col),
        "cell",
        F.col("_cos").alias("cos_to_proto"),
        "cell_rank",
        "n_cell",
        (
            F.col("cell_rank")
            <= F.ceil(F.col("n_cell") * F.lit(float(keep_frac))).cast("int")
        ).alias("kept"),
    )
