"""Query inventory part 2: training-data pipeline operators (llmdata/)
and event-stream batch analogues, each with a DuckDB oracle.

Same FP policy as suite.py: md5-derived integers and ordered folds make
hash/signature pipelines bit-identical across engines; integer ratios
(Jaccard) are single IEEE divisions; only transcendental-tainted
outputs are rounded.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from transcriptomics_data_integration_spark.runtime import register_persisted

from transcriptomics_data_integration_spark.llmdata.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    shingles,
    simhash,
)
from transcriptomics_data_integration_spark.llmdata.multimodal import (
    attach_binary_payload,
    featurize_media,
)
from transcriptomics_data_integration_spark.llmdata.similarity import (
    cosine_neardup_pairs,
    cosine_topk,
    lsh_bucketed_topk,
    plane_literals,
)
from transcriptomics_data_integration_spark.llmdata.text import (
    doc_fingerprint,
    language_id,
    text_quality,
    token_stats,
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read events.parquet with ``ts`` normalized to epoch NANOSECOND
    longs, whatever the file stores.

    Generators have shipped ``ts`` as TIMESTAMP(NANOS) (readable only
    via the legacy nanosAsLong conf) and as timestamp[us] (read as
    TIMESTAMP_NTZ).  All downstream time arithmetic is exact integer
    math on nanos, so convert here: session timezone is pinned to UTC
    (session.py), making NTZ->timestamp->unix_micros the same epoch
    DuckDB's epoch_ns() computes on the naive value."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    ts_type = dict(ev.dtypes)["ts"]
    if ts_type != "bigint":
        ev = ev.withColumn(
            "ts", (F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)).cast("long")
        )
    return ev


_NS_PER_S = 1_000_000_000
_NS_PER_H = 3_600 * _NS_PER_S


def _two_crawls(docs: DataFrame, parallelize: bool = True) -> DataFrame:
    """Union the corpus with a shifted copy of itself — a second "crawl"
    containing exact duplicates, so dedup operators have real work.

    ``parallelize`` (default): repartition to core count when the
    input arrives in fewer splits — consumers are mostly shingle/band
    exploders (r7 one-split finding).  Pass False for trivial-kernel
    consumers (one hash-agg) where the shuffle costs more than it
    saves (measured: dedup_exact 0.20 -> 0.57 with it on)."""
    crawl2 = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    # the two one-split scans union to TWO partitions; every consumer
    # is a shingle/band exploder whose fan-out would otherwise run on
    # 2 of 32 cores (r7 one-split finding) — the 1-row-per-doc shuffle
    # is ~free next to the explode work
    out = docs.unionByName(crawl2)
    if parallelize:
        par = out.sparkSession.sparkContext.defaultParallelism
        if out.rdd.getNumPartitions() < par:
            out = out.repartition(par)
    return out


# --- text analysis ---------------------------------------------------------


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    out = token_stats(docs)
    return out.select("doc_id", "n_tokens", "n_chars_obs", "n_subtokens")


ORACLE_TOKEN_STATS = """
SELECT doc_id,
       CAST(len(string_split(trim(text), ' ')) AS INTEGER) AS n_tokens,
       CAST(length(text) AS INTEGER) AS n_chars_obs,
       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER) AS n_subtokens
FROM documents
"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    out = text_quality(docs)
    return out.select(
        "doc_id", "n_tokens", "mean_token_len", "stopword_ratio", "punct_ratio"
    )


ORACLE_TEXT_QUALITY = r"""
WITH s AS (
  SELECT doc_id,
         len(string_split(trim(text), ' ')) AS n_tokens,
         length(text) AS n_chars,
         len(list_filter(string_split(trim(text), ' '),
             t -> t IN ('the', 'and', 'of', 'a', 'to'))) AS stop_hits,
         length(text) - length(regexp_replace(text, '[\.,;:!\?]', '', 'g')) AS n_punct
  FROM documents
)
SELECT doc_id,
       CAST(n_tokens AS INTEGER) AS n_tokens,
       (n_chars - (n_tokens - 1)) / n_tokens AS mean_token_len,
       stop_hits / n_tokens AS stopword_ratio,
       n_punct / n_chars AS punct_ratio
FROM s
"""


def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    out = language_id(docs)
    return out.groupBy("lang_pred").agg(F.count(F.lit(1)).alias("n_docs"))


ORACLE_LANGUAGE_ID = """
WITH s AS (
  SELECT doc_id,
         len(list_filter(string_split(trim(text), ' '),
             t -> t IN ('the', 'and', 'of', 'a', 'to'))) AS score_en,
         len(list_filter(string_split(trim(text), ' '),
             t -> t IN ('le', 'la', 'et', 'les', 'des'))) AS score_fr,
         len(list_filter(string_split(trim(text), ' '),
             t -> t IN ('der', 'die', 'und', 'das', 'nicht'))) AS score_de
  FROM documents
), lab AS (
  SELECT doc_id,
         CASE
           WHEN score_de > GREATEST(score_en, score_fr, 0) THEN 'de'
           WHEN score_fr > GREATEST(score_en, 0) THEN 'fr'
           WHEN score_en > 0 THEN 'en'
           ELSE 'und'
         END AS lang_pred
  FROM s
)
SELECT lang_pred, COUNT(*) AS n_docs FROM lab GROUP BY lang_pred
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return doc_fingerprint(docs).select("doc_id", "fingerprint")


ORACLE_FINGERPRINT = """
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(generate_series(1, length(text)),
                          i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
         (a, b) -> (a * 31 + b) % 1000000007) AS fingerprint
FROM documents
"""


# --- dedup -----------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _two_crawls(_t(spark, sf_dir, "documents"), parallelize=False)
    return exact_dedup(docs, "doc_id")


ORACLE_DEDUP_EXACT = """
WITH crawls AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents
)
SELECT md5(text) AS digest, MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
FROM crawls GROUP BY md5(text)
"""


_SHINGLE_SQL = (
    "list_distinct(list_transform(generate_series(1, greatest(length(text) - 4, 1)), "
    "i -> substr(text, i, 5)))"
)


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-Jaccard baseline is quadratic in corpus size — bounded here
    to the first 1000 docs (the scale path is q_minhash_lsh)."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 1000)
    par = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par)  # one-split fan-out (r7 finding)
    out = ngram_jaccard_pairs(docs, "doc_id", threshold=0.5)
    return out.select("id_a", "id_b", "n_inter", "n_a", "n_b", "jaccard")


ORACLE_NGRAM_JACCARD = f"""
WITH sh AS (
  SELECT doc_id, UNNEST({_SHINGLE_SQL}) AS shingle FROM documents WHERE doc_id < 1000
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b, n_inter, sa.n_sh AS n_a, sb.n_sh AS n_b,
       n_inter / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
FROM inter
JOIN sizes sa ON id_a = sa.doc_id
JOIN sizes sb ON id_b = sb.doc_id
WHERE n_inter / (sa.n_sh + sb.n_sh - n_inter) >= 0.5e0
"""


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline on the two-crawl corpus:
    signatures -> banded candidates -> exact-Jaccard verification, with
    exact-dup cluster compression (the two-crawl union makes every doc
    an exact dup, so the shingle/verify stages run on half the corpus
    and verification touches one edge per clique pair, not every edge).
    """
    docs = _two_crawls(_t(spark, sf_dir, "documents"))
    return minhash_lsh_pairs(docs, "doc_id", threshold=0.8)


ORACLE_MINHASH_LSH = f"""
WITH crawls AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents
), sh AS (
  SELECT doc_id, UNNEST({_SHINGLE_SQL}) AS shingle FROM crawls
), seeded AS (
  SELECT doc_id, seed, shingle
  FROM sh, (SELECT UNNEST(generate_series(0, 15)) AS seed)
), sigs AS (
  SELECT doc_id, seed,
         MIN((CASE WHEN seed % 2 = 0
            THEN ('0x' || substring(md5(shingle || '#' || CAST(seed // 4 AS VARCHAR)),
                                    1 + 15 * ((seed // 2) % 2), 15))::BIGINT // 1073741824
            ELSE ('0x' || substring(md5(shingle || '#' || CAST(seed // 4 AS VARCHAR)),
                                    1 + 15 * ((seed // 2) % 2), 15))::BIGINT % 1073741824
       END)) AS minhash
  FROM seeded GROUP BY doc_id, seed
), banded AS (
  SELECT doc_id, CAST(seed // 4 AS INTEGER) AS band,
         STRING_AGG(CAST(minhash AS VARCHAR), '_' ORDER BY seed) AS band_key
  FROM sigs GROUP BY doc_id, CAST(seed // 4 AS INTEGER)
), cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
  FROM cands c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND a.shingle = b.shingle
  GROUP BY c.id_a, c.id_b
)
SELECT id_a, id_b,
       n_inter / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
FROM inter
JOIN sizes sa ON id_a = sa.doc_id
JOIN sizes sb ON id_b = sb.doc_id
WHERE n_inter / (sa.n_sh + sb.n_sh - n_inter) >= 0.8e0
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return simhash(docs, "doc_id")


ORACLE_SIMHASH = """
WITH toks AS (
  SELECT doc_id, UNNEST(string_split(trim(text), ' ')) AS token FROM documents
), hashed AS (
  SELECT doc_id, ('0x' || substring(md5(token), 1, 15))::BIGINT AS h FROM toks
), bits AS (
  SELECT doc_id, bit, SUM(((h >> bit) & CAST(1 AS BIGINT)) * 2 - 1) AS s
  FROM hashed, (SELECT UNNEST(generate_series(0, 59)) AS bit)
  GROUP BY doc_id, bit
)
SELECT doc_id,
       CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
FROM bits GROUP BY doc_id
"""


# --- similarity search -----------------------------------------------------

_DOT_SQL = (
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
    "list_transform(generate_series(1, len({a})), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), (x, y) -> x + y)"
)


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN recall calibration, HASH-GATED (r6) — the `minhash_accuracy`
    scheme applied to similarity search: for every query, recall@5 of
    the deterministic IVF tier (`ivf_fixed_topk`, 16 cells / 2 probes)
    against the exact brute-force top-5 — the measurement an engine
    needs before trusting an ANN index at corpus scale.  Both arms are
    already-gated kernels; the overlap count is a plain integer join,
    so the gate is bit-exact end-to-end.  Scale shape: the exact arm
    is the deliberately-bounded baseline (query sample x corpus, the
    declared quadratic); the IVF arm is the production path."""
    from transcriptomics_data_integration_spark.llmdata.similarity import (
        cosine_topk as _ct,
        ivf_fixed_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 10 == 0)
    ivf = ivf_fixed_topk(emb, queries, k=5, n_cells=16, n_probe=2, dim=64).select(
        "query_id", "cand_id"
    )
    exact = _ct(emb, queries, k=5, dim=64).select("query_id", "cand_id")
    hits = (
        ivf.join(exact, ["query_id", "cand_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("int").alias("_n"))
    )
    base = queries.select(F.col("vec_id").alias("query_id"))
    return base.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce("_n", F.lit(0)).alias("n_hits"),
        (F.coalesce("_n", F.lit(0)) / F.lit(5)).alias("recall_at_5"),
    )


def _oracle_ann_recall() -> str:
    l2 = _L2_SQL
    return f"""
WITH base AS (
  SELECT vec_id AS cand_id, embedding AS c_vec,
         (((((vec_id % 4294967296) // 65536) * 2654435761) % 65536) * 65536
          + ((vec_id % 65536) * 2654435761)) % 4294967296 AS h
  FROM embeddings
), picked AS (
  SELECT h, cand_id, c_vec FROM base ORDER BY h, cand_id LIMIT 16
), centers AS (
  SELECT ROW_NUMBER() OVER (ORDER BY h, cand_id) - 1 AS cell,
         list_transform(c_vec, x -> CAST(x AS DOUBLE)) AS center
  FROM picked
), ac AS (
  SELECT b.cand_id, b.c_vec, c.cell,
         {l2.format(a='b.c_vec', b='c.center')} AS dist
  FROM base b CROSS JOIN centers c
), assigned AS (
  SELECT cand_id, c_vec, cell FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY cand_id ORDER BY dist, cell) AS rn
    FROM ac
  ) WHERE rn = 1
), q AS (
  SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings
  WHERE vec_id % 10 = 0
), qc AS (
  SELECT q.query_id, q.q_vec, c.cell,
         {l2.format(a='q.q_vec', b='c.center')} AS dist
  FROM q CROSS JOIN centers c
), probes AS (
  SELECT query_id, q_vec, cell FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dist, cell) AS rn
    FROM qc
  ) WHERE rn <= 2
), isims AS (
  SELECT p.query_id, a.cand_id,
         {_DOT_SQL.format(a='p.q_vec', b='a.c_vec')}
         / (sqrt({_DOT_SQL.format(a='p.q_vec', b='p.q_vec')})
            * sqrt({_DOT_SQL.format(a='a.c_vec', b='a.c_vec')})) AS cosine
  FROM probes p JOIN assigned a USING (cell)
  WHERE p.query_id <> a.cand_id
), ivf5 AS (
  SELECT query_id, cand_id FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
    FROM isims
  ) WHERE rank <= 5
), esims AS (
  SELECT q.query_id, b.cand_id,
         {_DOT_SQL.format(a='q.q_vec', b='b.c_vec')}
         / (sqrt({_DOT_SQL.format(a='q.q_vec', b='q.q_vec')})
            * sqrt({_DOT_SQL.format(a='b.c_vec', b='b.c_vec')})) AS cosine
  FROM q CROSS JOIN base b WHERE q.query_id <> b.cand_id
), exact5 AS (
  SELECT query_id, cand_id FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
    FROM esims
  ) WHERE rank <= 5
), hits AS (
  SELECT i.query_id, CAST(COUNT(*) AS INTEGER) AS n
  FROM ivf5 i JOIN exact5 e USING (query_id, cand_id)
  GROUP BY i.query_id
)
SELECT q.query_id,
       COALESCE(h.n, 0) AS n_hits,
       COALESCE(h.n, 0) / 5 AS recall_at_5
FROM q LEFT JOIN hits h USING (query_id)
"""


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 10 == 0)
    out = cosine_topk(emb, queries, k=5, dim=64)
    return out.select("query_id", "cand_id", "rank", F.round("cosine", 6).alias("cosine"))


ORACLE_COSINE_TOPK = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 10 = 0
), c AS (
  SELECT vec_id AS cand_id, embedding AS cv FROM embeddings
), sims AS (
  SELECT query_id, cand_id,
         {_DOT_SQL.format(a='qv', b='cv')}
         / (sqrt({_DOT_SQL.format(a='qv', b='qv')}) * sqrt({_DOT_SQL.format(a='cv', b='cv')})) AS cosine
  FROM q CROSS JOIN c WHERE query_id <> cand_id
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
  FROM sims
)
SELECT query_id, cand_id, rank, ROUND(cosine, 6) AS cosine
FROM ranked WHERE rank <= 5
"""

_PLANE_SQL = (
    "CAST(('0x' || substring(md5(p || ':' || i), 1, 15))::BIGINT AS DOUBLE)"
    " / 576460752303423488.0e0 - 1.0e0"
)

_BUCKET_SQL = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(generate_series(0, 7), p -> CASE WHEN ("
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
    "list_transform(generate_series(0, 63), "
    "i -> CAST({v}[i + 1] AS DOUBLE) * (" + _PLANE_SQL + "))), (x, y) -> x + y)"
    ") > 0 THEN (CAST(1 AS BIGINT) << p) ELSE CAST(0 AS BIGINT) END)), (a, b) -> a + b)"
)


def q_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 10 == 0)
    out = lsh_bucketed_topk(emb, queries, k=5, n_planes=8, dim=64)
    return out.select("query_id", "cand_id", "rank", F.round("cosine", 6).alias("cosine"))


ORACLE_LSH_ANN = f"""
WITH b AS (
  SELECT vec_id, embedding, {_BUCKET_SQL.format(v='embedding')} AS bucket FROM embeddings
), q AS (
  SELECT vec_id AS query_id, embedding AS qv, bucket FROM b WHERE vec_id % 10 = 0
), c AS (
  SELECT vec_id AS cand_id, embedding AS cv, bucket FROM b
), sims AS (
  SELECT query_id, cand_id,
         {_DOT_SQL.format(a='qv', b='cv')}
         / (sqrt({_DOT_SQL.format(a='qv', b='qv')}) * sqrt({_DOT_SQL.format(a='cv', b='cv')})) AS cosine
  FROM q JOIN c USING (bucket) WHERE query_id <> cand_id
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
  FROM sims
)
SELECT query_id, cand_id, rank, ROUND(cosine, 6) AS cosine
FROM ranked WHERE rank <= 5
"""


def _bits_sql(v: str, n_planes: int, dim: int = 64) -> str:
    """DuckDB twin of ``hyperplane_bits``: same plane literals (from
    ``plane_literals``), same left-fold order, same sign rule."""
    terms = []
    for p in range(n_planes):
        arr = "[" + ", ".join(plane_literals(p, dim)) + "]"
        dot = (
            f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
            f"list_transform(generate_series(1, {dim}), "
            f"i -> CAST({v}[i] AS DOUBLE) * ({arr})[i])), (x, y) -> x + y)"
        )
        terms.append(
            f"CASE WHEN ({dot}) > 0 THEN (CAST(1 AS BIGINT) << {p}) "
            f"ELSE CAST(0 AS BIGINT) END"
        )
    return "(" + " + ".join(terms) + ")"


_PERTURB_SPARK = "transform(embedding, x -> CAST(CAST(x AS DOUBLE) + 0.01e0 AS FLOAT))"
_PERTURB_SQL = (
    "list_transform(embedding, x -> CAST(CAST(x AS DOUBLE) + 0.01e0 AS FLOAT))"
)


def q_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup on a corpus with planted near-dups
    (every vector unioned with a +0.01-per-component perturbed copy):
    banded hyperplane LSH -> exact cosine >= 0.99.  The threshold twin
    of `cosine_topk` — dedup, not search."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    pert = emb.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.expr(_PERTURB_SPARK).alias("embedding"),
    )
    corpus = emb.unionByName(pert)
    out = cosine_neardup_pairs(corpus, threshold=0.99, n_planes=24, n_bands=2)
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


def _oracle_cosine_neardup() -> str:
    dot_ab = _DOT_SQL.format(a="va", b="vb")
    dot_aa = _DOT_SQL.format(a="va", b="va")
    dot_bb = _DOT_SQL.format(a="vb", b="vb")
    return f"""
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, {_PERTURB_SQL} AS embedding FROM embeddings
), bits AS (
  SELECT vec_id, {_bits_sql('embedding', 24)} AS b FROM corpus
), banded AS (
  SELECT vec_id, bnd.band AS band, (b >> (bnd.band * 12)) & 4095 AS key
  FROM bits, (SELECT UNNEST(generate_series(0, 1)) AS band) bnd
), cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b
  FROM banded a JOIN banded b2
    ON a.band = b2.band AND a.key = b2.key AND a.vec_id < b2.vec_id
), withv AS (
  SELECT id_a, id_b, ea.embedding AS va, eb.embedding AS vb
  FROM cand
  JOIN corpus ea ON ea.vec_id = cand.id_a
  JOIN corpus eb ON eb.vec_id = cand.id_b
), sims AS (
  SELECT id_a, id_b,
         {dot_ab} / (sqrt({dot_aa}) * sqrt({dot_bb})) AS cosine
  FROM withv
  WHERE sqrt({dot_aa}) > 0 AND sqrt({dot_bb}) > 0
)
SELECT id_a, id_b, ROUND(cosine, 6) AS cosine FROM sims WHERE cosine >= 0.99e0
"""


# --- multimodal plumbing ---------------------------------------------------


def q_multimodal_featurize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal metadata pass over OPAQUE payloads (text wrapped as
    binary): the real header sniffer recognizes none of them, so the
    media_type passes through and the dimensions are NULL — the honest
    answer, vs the r1-r3 payload-length fake.  Real decoded dimensions
    are gated by ``media_header_decode`` below."""
    docs = _t(spark, sf_dir, "documents")
    media = attach_binary_payload(docs, "doc_id")
    return featurize_media(media)


ORACLE_MULTIMODAL = """
SELECT doc_id AS media_id,
       CAST(length(text) AS INTEGER) AS n_bytes,
       'application/octet-stream' AS media_type,
       CAST(NULL AS INTEGER) AS width,
       CAST(NULL AS INTEGER) AS height,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(generate_series(1, length(text)),
                          i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
         (a, b) -> a + b) % 2147483647 AS checksum
FROM documents
"""


def q_media_header_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image header decode, HASH-GATED (r3 verdict item 3): a
    deterministic synthetic corpus of well-formed PNG / JPEG / GIF
    header bytes is built IN-PLAN from doc_id (dimension fields packed
    with hex/unhex byte algebra), and ``featurize_media``'s pure-Python
    parser (`llmdata/multimodal.py:decode_image_header`) must recover
    the planted width/height from the bytes alone.  The oracle never
    parses — it recomputes the planted ground truth from doc_id, so a
    hash match proves the byte-level parsing (big-endian PNG/JPEG,
    little-endian GIF, JPEG marker-scan past APP0) is right.

    Scale shape: payload synthesis and featurize are both map-side
    (one mapInPandas pass, zero shuffles)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    w = ((F.col("doc_id") * 7) % 1021 + 1).cast("int")
    h = ((F.col("doc_id") * 13) % 509 + 1).cast("int")

    def be(c, n_hex: int):
        return F.unhex(F.lpad(F.hex(c), n_hex, "0"))

    def le2(c):
        return F.concat(
            F.unhex(F.lpad(F.hex(c % 256), 2, "0")),
            F.unhex(F.lpad(F.hex((c / 256).cast("int")), 2, "0")),
        )

    png = F.concat(
        F.lit(bytes.fromhex("89504e470d0a1a0a0000000d49484452")),
        be(w, 8),
        be(h, 8),
        F.lit(bytes.fromhex("0806000000")),
    )
    jpg = F.concat(
        # SOI, APP0 (len 4 + 2 payload bytes), SOF0 (len 0x11), precision 8
        F.lit(bytes.fromhex("ffd8ffe000040000ffc0001108")),
        be(h, 4),
        be(w, 4),
        F.lit(bytes.fromhex("03")),
    )
    gif = F.concat(F.lit(b"GIF89a"), le2(w), le2(h))
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, png)
        .when(F.col("doc_id") % 3 == 1, jpg)
        .otherwise(gif)
        .alias("payload"),
        F.lit("application/octet-stream").alias("media_type"),
    ).withColumn("n_bytes", F.octet_length("payload"))
    return featurize_media(media).select(
        "media_id", "n_bytes", "media_type", "width", "height"
    )


ORACLE_MEDIA_HEADER = """
SELECT doc_id AS media_id,
       CAST(CASE doc_id % 3 WHEN 0 THEN 29 WHEN 1 THEN 18 ELSE 10 END
            AS INTEGER) AS n_bytes,
       CASE doc_id % 3 WHEN 0 THEN 'image/png'
                       WHEN 1 THEN 'image/jpeg'
                       ELSE 'image/gif' END AS media_type,
       CAST((doc_id * 7) % 1021 + 1 AS INTEGER) AS width,
       CAST((doc_id * 13) % 509 + 1 AS INTEGER) AS height
FROM documents
"""


def q_png_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG pixel decode + nearest-neighbor resize, HASH-GATED
    (r6): per doc a 6x8 RGB image with planted pixels
    p(y,x,c) = (doc_id*7 + y*31 + x*13 + c*5) % 256 is encoded by the
    real PNG encoder (stdlib zlib stream, CRC32 chunks, scanline
    filter cycling through ALL FIVE types), decoded back by the
    independent unfilter path (`llmdata/multimodal.py:
    decode_png_pixels`), resized 8x6 -> 4x4 with the real
    nearest-neighbor rule, and reduced to integer-exact channel sums.
    The oracle recomputes those sums from the pixel formula alone —
    it never touches PNG bytes — so a hash match proves zlib framing,
    CRC verification, and the Sub/Up/Average/Paeth unfilter
    arithmetic end-to-end.  Both stages are map-side mapInPandas:
    zero shuffles."""
    import pandas as pd

    from transcriptomics_data_integration_spark.llmdata.multimodal import (
        decode_png_pixels,
        encode_png,
        resize_nearest,
    )

    H, W = 6, 8

    def op(batches):
        import numpy as np

        y, x = np.mgrid[0:H, 0:W]
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                px = np.stack(
                    [(did * 7 + y * 31 + x * 13 + c * 5) % 256 for c in range(3)],
                    axis=-1,
                ).astype(np.uint8)
                dec = decode_png_pixels(encode_png(px))
                if dec is None:
                    continue
                small = resize_nearest(dec, 4, 4)
                s = dec.astype(np.int64).sum(axis=(0, 1))
                rs = small.astype(np.int64).sum(axis=(0, 1))
                rows.append(
                    (did, dec.shape[1], dec.shape[0],
                     int(s[0]), int(s[1]), int(s[2]),
                     int(rs[0]), int(rs[1]), int(rs[2]))
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "width", "height",
                    "sum_r", "sum_g", "sum_b",
                    "rsum_r", "rsum_g", "rsum_b",
                ],
            )

    # repartition before the Python fan-out: the small parquet file is
    # ONE split (single row group), so without it the whole per-doc
    # codec work runs in one task (r7 finding; the 1-column shuffle is
    # ~free next to the decode work)
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    return docs.mapInPandas(
        op,
        schema=(
            "media_id bigint, width int, height int, "
            "sum_r bigint, sum_g bigint, sum_b bigint, "
            "rsum_r bigint, rsum_g bigint, rsum_b bigint"
        ),
    )


# nearest-neighbor source indices for 6x8 -> 4x4: ys = floor(i*6/4) =
# (0,1,3,4), xs = floor(j*8/4) = (0,2,4,6) — mirrored in the oracle
ORACLE_PNG_PIXELS = """
WITH px AS (
  SELECT d.doc_id, y.y, x.x
  FROM documents d,
       (SELECT unnest(generate_series(0, 5)) AS y) y,
       (SELECT unnest(generate_series(0, 7)) AS x) x
)
SELECT doc_id AS media_id,
       CAST(8 AS INTEGER) AS width, CAST(6 AS INTEGER) AS height,
       CAST(SUM((doc_id * 7 + y * 31 + x * 13) % 256) AS BIGINT) AS sum_r,
       CAST(SUM((doc_id * 7 + y * 31 + x * 13 + 5) % 256) AS BIGINT) AS sum_g,
       CAST(SUM((doc_id * 7 + y * 31 + x * 13 + 10) % 256) AS BIGINT) AS sum_b,
       CAST(SUM(CASE WHEN y IN (0, 1, 3, 4) AND x IN (0, 2, 4, 6)
                THEN (doc_id * 7 + y * 31 + x * 13) % 256 END) AS BIGINT) AS rsum_r,
       CAST(SUM(CASE WHEN y IN (0, 1, 3, 4) AND x IN (0, 2, 4, 6)
                THEN (doc_id * 7 + y * 31 + x * 13 + 5) % 256 END) AS BIGINT) AS rsum_g,
       CAST(SUM(CASE WHEN y IN (0, 1, 3, 4) AND x IN (0, 2, 4, 6)
                THEN (doc_id * 7 + y * 31 + x * 13 + 10) % 256 END) AS BIGINT) AS rsum_b
FROM px GROUP BY doc_id
"""


def q_jpeg_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline JPEG entropy decode + nearest-neighbor resize,
    HASH-GATED (r7, closing the last multimodal pixel stub): per doc a
    16x24 grayscale image tiled from 2x3 EIGHT-BY-EIGHT-CONSTANT
    blocks v(bi,bj) = (doc_id*11 + bi*37 + bj*17) % 256 is encoded by
    the real encoder (Annex-K Huffman tables, zigzag RLE, 0xFF byte
    stuffing, DRI/RST2 restart markers) and decoded back by the
    independent marker-walking entropy decoder
    (`llmdata/multimodal.py:decode_jpeg_pixels`), resized 24x16 ->
    7x5, and reduced to integer-exact pixel sums.  Constant 8x8 tiles
    survive the lossy DCT pipeline BIT-EXACTLY under the all-ones
    quantization table (one integer DC coefficient, zero ACs), so the
    oracle recomputes both sums from the tile formula alone — it
    never touches JPEG bytes.  A hash match therefore proves the
    Huffman code tables, bit unstuffing, restart re-sync, DC
    prediction, dequantize/IDCT arithmetic, and the resize index rule
    end-to-end.  Map-side mapInPandas: zero shuffles."""
    import pandas as pd

    from transcriptomics_data_integration_spark.llmdata.multimodal import (
        decode_jpeg_pixels,
        encode_jpeg,
        resize_nearest,
    )

    BH, BW = 2, 3  # tile grid; image is (16, 24) gray

    def op(batches):
        import numpy as np

        bi, bj = np.mgrid[0:BH, 0:BW]
        ones = np.ones((8, 8), dtype=np.uint8)
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                tiles = ((did * 11 + bi * 37 + bj * 17) % 256).astype(np.uint8)
                img = np.kron(tiles, ones)
                dec = decode_jpeg_pixels(
                    encode_jpeg(img, restart_interval=2)
                )
                if dec is None or dec.shape != (16, 24, 1):
                    continue
                small = resize_nearest(dec, 7, 5)
                rows.append(
                    (
                        did,
                        dec.shape[1],
                        dec.shape[0],
                        int(dec.astype(np.int64).sum()),
                        int(small.astype(np.int64).sum()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "width", "height", "sum_v", "rsum_v"],
            )

    # repartition before the Python fan-out: the small parquet file is
    # ONE split (single row group), so without it the whole per-doc
    # codec work runs in one task (r7 finding; the 1-column shuffle is
    # ~free next to the decode work)
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    return docs.mapInPandas(
        op,
        schema=(
            "media_id bigint, width int, height int, "
            "sum_v bigint, rsum_v bigint"
        ),
    )


# resize 24x16 -> 7x5 nearest-neighbor source indices: ys = floor(i*16/5)
# = (0,3,6,9,12) -> tile rows (0,0,0,1,1) => row weights (3,2);
# xs = floor(j*24/7) = (0,3,6,10,13,17,20) -> tile cols (0,0,0,1,1,2,2)
# => col weights (3,2,2) — mirrored in the oracle's weight CASEs
ORACLE_JPEG_PIXELS = """
WITH tiles AS (
  SELECT d.doc_id, bi.bi, bj.bj,
         (d.doc_id * 11 + bi.bi * 37 + bj.bj * 17) % 256 AS v
  FROM documents d,
       (SELECT unnest(generate_series(0, 1)) AS bi) bi,
       (SELECT unnest(generate_series(0, 2)) AS bj) bj
)
SELECT doc_id AS media_id,
       CAST(24 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height,
       CAST(SUM(64 * v) AS BIGINT) AS sum_v,
       CAST(SUM((CASE bi WHEN 0 THEN 3 ELSE 2 END)
                * (CASE bj WHEN 0 THEN 3 ELSE 2 END) * v) AS BIGINT) AS rsum_v
FROM tiles GROUP BY doc_id
"""


def q_gif_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF LZW decode, HASH-GATED (r7): per doc a 12x17 16-color
    image with planted palette indices idx(y,x) = (doc_id*13 + y*5 +
    x*3) % 16 and palette pal[i] = ((i*37)%256, (i*59)%256, (i*83)%256)
    is encoded by the real GIF89a encoder (variable-width LZW with
    dictionary growth, 255-byte sub-blocks, INTERLACED row order) and
    decoded back by the independent LZW decoder
    (`llmdata/multimodal.py:decode_gif_pixels`), reduced to
    integer-exact per-channel sums.  GIF is lossless, so the oracle
    recomputes the sums from the index/palette formulas alone — it
    never touches GIF bytes; a hash match proves the LZW bit packing,
    code-width growth, sub-block framing, palette lookup, and the
    4-pass deinterlace end-to-end.  Map-side mapInPandas: zero
    shuffles."""
    import pandas as pd

    from transcriptomics_data_integration_spark.llmdata.multimodal import (
        decode_gif_pixels,
        encode_gif,
    )

    H, W, K = 12, 17, 16

    def op(batches):
        import numpy as np

        y, x = np.mgrid[0:H, 0:W]
        pal = np.stack(
            [
                (np.arange(K) * 37) % 256,
                (np.arange(K) * 59) % 256,
                (np.arange(K) * 83) % 256,
            ],
            axis=1,
        ).astype(np.uint8)
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                idx = ((did * 13 + y * 5 + x * 3) % K).astype(np.uint8)
                dec = decode_gif_pixels(encode_gif(idx, pal, interlace=True))
                if dec is None or dec.shape != (H, W, 3):
                    continue
                s = dec.astype(np.int64).sum(axis=(0, 1))
                rows.append(
                    (did, dec.shape[1], dec.shape[0],
                     int(s[0]), int(s[1]), int(s[2]))
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "width", "height", "sum_r", "sum_g", "sum_b"],
            )

    # repartition before the Python fan-out: the small parquet file is
    # ONE split (single row group), so without it the whole per-doc
    # codec work runs in one task (r7 finding; the 1-column shuffle is
    # ~free next to the decode work)
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    return docs.mapInPandas(
        op,
        schema=(
            "media_id bigint, width int, height int, "
            "sum_r bigint, sum_g bigint, sum_b bigint"
        ),
    )


ORACLE_GIF_PIXELS = """
WITH px AS (
  SELECT d.doc_id,
         (d.doc_id * 13 + y.y * 5 + x.x * 3) % 16 AS i
  FROM documents d,
       (SELECT unnest(generate_series(0, 11)) AS y) y,
       (SELECT unnest(generate_series(0, 16)) AS x) x
)
SELECT doc_id AS media_id,
       CAST(17 AS INTEGER) AS width, CAST(12 AS INTEGER) AS height,
       CAST(SUM((i * 37) % 256) AS BIGINT) AS sum_r,
       CAST(SUM((i * 59) % 256) AS BIGINT) AS sum_g,
       CAST(SUM((i * 83) % 256) AS BIGINT) AS sum_b
FROM px GROUP BY doc_id
"""


def q_mp4_header(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MP4/ISO-BMFF header parse, HASH-GATED (r7): per doc a
    planted container — width (doc_id%640)+16, height (doc_id%360)+16,
    duration doc_id%100000 ms, (doc_id%3)+1 tracks — is written by
    the real box writer (ftyp + moov(mvhd + trak(tkhd)*) with correct
    sizes) and parsed back by the independent recursive box walker
    (`llmdata/multimodal.py:decode_video_header` — 16.16 fixed-point
    dims, mvhd v0/v1 timescale math).  The oracle recomputes the
    fields from the formulas alone.  Map-side mapInPandas, zero
    shuffles — the metadata pass a video pipeline runs before any
    frame work."""
    import pandas as pd

    from transcriptomics_data_integration_spark.llmdata.multimodal import (
        decode_video_header,
        encode_mp4_header,
    )

    def op(batches):
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                hdr = encode_mp4_header(
                    (did % 640) + 16,
                    (did % 360) + 16,
                    did % 100000,
                    n_tracks=(did % 3) + 1,
                )
                d = decode_video_header(hdr)
                if d is None:
                    continue
                rows.append(
                    (did, d["width"], d["height"], d["duration_ms"], d["n_tracks"])
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "width", "height", "duration_ms", "n_tracks"],
            )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return docs.mapInPandas(
        op,
        schema=(
            "media_id bigint, width int, height int, "
            "duration_ms bigint, n_tracks int"
        ),
    )


ORACLE_MP4_HEADER = """
SELECT doc_id AS media_id,
       CAST((doc_id % 640) + 16 AS INTEGER) AS width,
       CAST((doc_id % 360) + 16 AS INTEGER) AS height,
       CAST(doc_id % 100000 AS BIGINT) AS duration_ms,
       CAST((doc_id % 3) + 1 AS INTEGER) AS n_tracks
FROM documents
"""


def q_flac_header(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL FLAC STREAMINFO parse, HASH-GATED (r7): per doc a planted
    container — rate 8000+(doc_id%10)*4000, channels (doc_id%2)+1,
    bits 16/24 by doc_id%2, total samples doc_id%1000000 — written by
    the real header writer and parsed back by the independent
    metadata-block walker (`llmdata/multimodal.py:decode_flac_header`
    — spec bit-packing: 20-bit rate, 3+1 channels, 5+1 bits, 36-bit
    total).  The oracle recomputes every field incl. the integer
    duration from the formulas alone.  Map-side, zero shuffles."""
    import pandas as pd

    from transcriptomics_data_integration_spark.llmdata.multimodal import (
        decode_flac_header,
        encode_flac_header,
    )

    def op(batches):
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                hdr = encode_flac_header(
                    8000 + (did % 10) * 4000,
                    (did % 2) + 1,
                    16 if did % 2 == 0 else 24,
                    did % 1000000,
                )
                d = decode_flac_header(hdr)
                if d is None:
                    continue
                rows.append(
                    (did, d["sample_rate"], d["n_channels"],
                     d["bits_per_sample"], d["total_samples"], d["duration_ms"])
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "sample_rate", "n_channels",
                         "bits_per_sample", "total_samples", "duration_ms"],
            )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return docs.mapInPandas(
        op,
        schema=(
            "media_id bigint, sample_rate int, n_channels int, "
            "bits_per_sample int, total_samples bigint, duration_ms bigint"
        ),
    )


ORACLE_FLAC_HEADER = """
SELECT doc_id AS media_id,
       CAST(8000 + (doc_id % 10) * 4000 AS INTEGER) AS sample_rate,
       CAST((doc_id % 2) + 1 AS INTEGER) AS n_channels,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 16 ELSE 24 END AS INTEGER) AS bits_per_sample,
       CAST(doc_id % 1000000 AS BIGINT) AS total_samples,
       CAST((doc_id % 1000000) * 1000 // (8000 + (doc_id % 10) * 4000) AS BIGINT) AS duration_ms
FROM documents
"""

def q_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WAV (RIFF/PCM16) decode, HASH-GATED (r6): per doc a
    64-sample mono 8 kHz waveform with planted samples
    s(i) = ((doc_id*3 + i*7) % 65536) - 32768 is encoded by the real
    RIFF writer and decoded by the independent chunk-walking reader
    (`llmdata/multimodal.py:decode_wav`), reduced to integer-exact
    amplitude moments (the features an audio-quality filter uses).
    The oracle recomputes the moments from the sample formula alone.
    Map-side, zero shuffles."""
    import pandas as pd

    from transcriptomics_data_integration_spark.llmdata.multimodal import (
        decode_wav,
        encode_wav,
    )

    N = 64

    def op(batches):
        import numpy as np

        i = np.arange(N, dtype=np.int64)
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                s = ((did * 3 + i * 7) % 65536 - 32768).astype(np.int16)
                d = decode_wav(encode_wav(s, rate=8000, n_channels=1))
                if d is None:
                    continue
                rows.append(
                    (did, d["n_channels"], d["sample_rate"], d["n_samples"],
                     d["sum_amp"], d["sum_sq"], d["min_amp"], d["max_amp"])
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "n_channels", "sample_rate", "n_samples",
                    "sum_amp", "sum_sq", "min_amp", "max_amp",
                ],
            )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return docs.mapInPandas(
        op,
        schema=(
            "media_id bigint, n_channels int, sample_rate int, "
            "n_samples int, sum_amp bigint, sum_sq bigint, "
            "min_amp int, max_amp int"
        ),
    )


ORACLE_WAV_DECODE = """
WITH s AS (
  SELECT d.doc_id, (doc_id * 3 + i.i * 7) % 65536 - 32768 AS amp
  FROM documents d, (SELECT unnest(generate_series(0, 63)) AS i) i
)
SELECT doc_id AS media_id,
       CAST(1 AS INTEGER) AS n_channels,
       CAST(8000 AS INTEGER) AS sample_rate,
       CAST(64 AS INTEGER) AS n_samples,
       CAST(SUM(amp) AS BIGINT) AS sum_amp,
       CAST(SUM(amp * amp) AS BIGINT) AS sum_sq,
       CAST(MIN(amp) AS INTEGER) AS min_amp,
       CAST(MAX(amp) AS INTEGER) AS max_amp
FROM s GROUP BY doc_id
"""


# --- event stream (batch analogues) ---------------------------------------


def q_event_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-hour windowed aggregation — the batch twin of the
    Structured Streaming pipeline in streaming/ (same transformation
    applied via readStream in the streaming tests)."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(
            # integer div: nanos exceed 2^53, float division is lossy
            F.expr(f"(ts div {_NS_PER_H}) * 3600").alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
    )


ORACLE_EVENT_WINDOW = """
SELECT CAST(floor(epoch_ns(ts) // 3600000000000) * 3600 AS BIGINT) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) via lag + running
    sum — the standard Spark batch sessionization shape."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sess = (
        ev.withColumn("_prev", F.lag("ts").over(w))
        .withColumn(
            "_new",
            F.when(
                F.col("_prev").isNull()
                | (F.col("ts") - F.col("_prev") > 1800 * _NS_PER_S),
                1,
            ).otherwise(0),
        )
        .withColumn("session_id", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        # integer div, not double: nanos exceed 2^53, so float division
        # can misplace a timestamp that sits within ~128ns of a second
        # boundary
        F.expr(f"min(ts) div {_NS_PER_S}").alias("session_start"),
        F.expr(f"max(ts) div {_NS_PER_S}").alias("session_end"),
    )


ORACLE_SESSIONIZE = """
WITH lagged AS (
  SELECT user_id, event_id, ts,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
), flagged AS (
  SELECT *, CASE WHEN prev_ts IS NULL
                   OR epoch_ns(ts) - epoch_ns(prev_ts) > 1800000000000
                 THEN 1 ELSE 0 END AS new_session
  FROM lagged
), numbered AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS session_id
  FROM flagged
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       COUNT(*) AS n_events,
       CAST(floor(epoch_ns(MIN(ts)) // 1000000000) AS BIGINT) AS session_start,
       CAST(floor(epoch_ns(MAX(ts)) // 1000000000) AS BIGINT) AS session_end
FROM numbered GROUP BY user_id, session_id
"""


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string/regex family (SURVEY.md section 2.7): regex capture
    from the packed props column (cf. GTF attribute capture,
    `Get_gene_info.pl:100-117`)."""
    ev = _events(spark, sf_dir)
    return (
        ev.withColumn(
            "k",
            F.regexp_extract(F.col("props"), r'\{"k": ([0-9]+)\}', 1).cast("int"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


ORACLE_JSON_EXTRACT = """
WITH e AS (
  SELECT event_type,
         CAST(regexp_extract(props, '\\{"k": ([0-9]+)\\}', 1) AS INTEGER) AS k
  FROM events
)
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       MIN(k) AS min_k, MAX(k) AS max_k
FROM e GROUP BY event_type
"""


def q_ivf_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a deterministic hash-sampled codebook, HASH-GATED —
    the oracle-checkable twin of the seeded-KMeans ``ivf_ann``
    (rows-only): same inverted-file layout, probe schedule, and exact
    cosine re-rank, with the coarse centers drawn by Knuth
    multiplicative hash instead of Lloyd iterations.  Every fold runs
    the identical left-to-right double arithmetic in both engines."""
    from transcriptomics_data_integration_spark.llmdata.similarity import (
        ivf_fixed_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 10 == 0)
    out = ivf_fixed_topk(emb, queries, k=5, n_cells=16, n_probe=2, dim=64)
    return out.select(
        "query_id", "cand_id", "rank", F.round("cosine", 6).alias("cosine")
    )


_L2_SQL = (
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
    "list_transform(generate_series(1, len({a})), "
    "i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) "
    "* (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)))), (x, y) -> x + y)"
)

ORACLE_IVF_FIXED = f"""
WITH base AS (
  SELECT vec_id AS cand_id, embedding AS c_vec,
         (((((vec_id % 4294967296) // 65536) * 2654435761) % 65536) * 65536
          + ((vec_id % 65536) * 2654435761)) % 4294967296 AS h
  FROM embeddings
), picked AS (
  SELECT h, cand_id, c_vec FROM base ORDER BY h, cand_id LIMIT 16
), centers AS (
  SELECT ROW_NUMBER() OVER (ORDER BY h, cand_id) - 1 AS cell,
         list_transform(c_vec, x -> CAST(x AS DOUBLE)) AS center
  FROM picked
), ac AS (
  SELECT b.cand_id, b.c_vec, c.cell,
         {_L2_SQL.format(a='b.c_vec', b='c.center')} AS dist
  FROM base b CROSS JOIN centers c
), assigned AS (
  SELECT cand_id, c_vec, cell FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY cand_id ORDER BY dist, cell) AS rn
    FROM ac
  ) WHERE rn = 1
), q AS (
  SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings
  WHERE vec_id % 10 = 0
), qc AS (
  SELECT q.query_id, q.q_vec, c.cell,
         {_L2_SQL.format(a='q.q_vec', b='c.center')} AS dist
  FROM q CROSS JOIN centers c
), probes AS (
  SELECT query_id, q_vec, cell FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dist, cell) AS rn
    FROM qc
  ) WHERE rn <= 2
), sims AS (
  SELECT p.query_id, a.cand_id,
         {_DOT_SQL.format(a='p.q_vec', b='a.c_vec')}
         / (sqrt({_DOT_SQL.format(a='p.q_vec', b='p.q_vec')})
            * sqrt({_DOT_SQL.format(a='a.c_vec', b='a.c_vec')})) AS cosine
  FROM probes p JOIN assigned a USING (cell)
  WHERE p.query_id <> a.cand_id
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
  FROM sims
)
SELECT query_id, cand_id, rank, ROUND(cosine, 6) AS cosine
FROM ranked WHERE rank <= 5
"""


def q_pq_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ADC search with a deterministic hash-sampled codebook,
    HASH-GATED — the oracle-checkable twin of the Arrow
    ``pq_train``/``pq_encode``/``pq_topk`` chain (rows-only ``pq_ann``):
    same subspace split, encode argmin, LUT build, and asymmetric-
    distance scan, with every reduction an explicitly-ordered fold so
    codes, distances, and ranks are bitwise-reproducible."""
    from transcriptomics_data_integration_spark.llmdata.similarity import (
        pq_fixed_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 10 == 0)
    return pq_fixed_topk(emb, queries, k=5, m=8, n_cent=16, dim=64)


def _oracle_pq_fixed(m: int = 8, n_cent: int = 16) -> str:
    def sub_l2(vec: str) -> str:
        sl = f"{vec}[s * (len({vec}) // {m}) + 1 : (s + 1) * (len({vec}) // {m})]"
        return (
            f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
            f"list_transform(generate_series(1, len(center)), "
            f"i -> (CAST(({sl})[i] AS DOUBLE) - center[i]) "
            f"* (CAST(({sl})[i] AS DOUBLE) - center[i]))), (x, y) -> x + y)"
        )

    return f"""
WITH base AS (
  SELECT vec_id AS cand_id, embedding AS vec,
         (((((vec_id % 4294967296) // 65536) * 2654435761) % 65536) * 65536
          + ((vec_id % 65536) * 2654435761)) % 4294967296 AS h
  FROM embeddings
), picked AS (
  SELECT h, cand_id, vec FROM base ORDER BY h, cand_id LIMIT {n_cent}
), numbered AS (
  SELECT ROW_NUMBER() OVER (ORDER BY h, cand_id) - 1 AS c,
         list_transform(vec, x -> CAST(x AS DOUBLE)) AS cv
  FROM picked
), centers AS (
  SELECT sq.s, n.c,
         n.cv[sq.s * (len(n.cv) // {m}) + 1 : (sq.s + 1) * (len(n.cv) // {m})]
           AS center
  FROM numbered n
  CROSS JOIN (SELECT unnest(generate_series(0, {m - 1})) AS s) sq
), enc AS (
  SELECT b.cand_id, c.s, c.c, {sub_l2('b.vec')} AS dist
  FROM base b CROSS JOIN centers c
), codes AS (
  SELECT cand_id, list(code ORDER BY s) AS codes FROM (
    SELECT cand_id, s, c AS code FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY cand_id, s ORDER BY dist, c) AS rn
      FROM enc
    ) WHERE rn = 1
  ) GROUP BY cand_id
), q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
  WHERE vec_id % 10 = 0
), lutrows AS (
  SELECT q.query_id, c.s, c.c, {sub_l2('q.qv')} AS l2
  FROM q CROSS JOIN centers c
), lut AS (
  SELECT query_id, list(l2 ORDER BY s, c) AS lut FROM lutrows GROUP BY query_id
), pairs AS (
  SELECT l.query_id, cd.cand_id,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(generate_series(0, {m - 1}),
             s -> l.lut[s * (len(l.lut) // {m}) + cd.codes[s + 1] + 1])),
           (x, y) -> x + y) AS adist
  FROM codes cd CROSS JOIN lut l
  WHERE l.query_id <> cd.cand_id
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY adist, cand_id) AS rank
  FROM pairs
)
SELECT query_id, cand_id, rank, adist FROM ranked WHERE rank <= 5
"""


def q_doc_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality scoring (CCNet-style perplexity-proxy
    filter), HASH-GATED — corpus-fit Laplace unigram model, per-doc
    mean token log-probability (`llmdata/text.py:doc_logprob`).
    ln() is transcendental -> round(6) per repo FP policy."""
    from transcriptomics_data_integration_spark.llmdata.text import doc_logprob

    docs = _t(spark, sf_dir, "documents")
    out = doc_logprob(docs, "doc_id")
    return out.select(
        "doc_id", "n_tokens", F.round("mean_logprob", 6).alias("mean_logprob")
    )


ORACLE_DOC_LOGPROB = """
WITH tokens AS (
  SELECT doc_id, t AS token
  FROM documents, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS u(t)
  WHERE t <> ''
), freq AS (
  SELECT token, COUNT(*) AS c FROM tokens GROUP BY token
), totals AS (
  SELECT CAST(SUM(c) AS BIGINT) AS N, COUNT(*) AS V FROM freq
), model AS (
  SELECT token, ln((c + 1.0) / (N + V)) AS lp FROM freq CROSS JOIN totals
)
SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(SUM(m.lp) / COUNT(*), 6) AS mean_logprob
FROM tokens t JOIN model m USING (token)
GROUP BY t.doc_id
"""


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, HASH-GATED — four merge iterations over
    the corpus word-frequency table (`llmdata/bpe.py:bpe_train_fixed`):
    pair counting, deterministic top-1 (count DESC, lhs, rhs), greedy
    left-to-right merge fold.  Integer counts + fixed fold order make
    the whole training loop engine-exact; the oracle unrolls the
    iterations into CTEs with the same list fold."""
    from transcriptomics_data_integration_spark.llmdata.bpe import bpe_train_fixed

    docs = _t(spark, sf_dir, "documents")
    return bpe_train_fixed(docs, "text", n_merges=4)


def _oracle_bpe_merges(n_merges: int = 4) -> str:
    fold = (
        "CASE WHEN len(s) <= 1 THEN s ELSE "
        "list_reduce(list_prepend([s[1]], "
        "list_transform(generate_series(2, len(s)), j -> [s[j]])), "
        "(acc, x) -> CASE WHEN acc[-1] = a AND x[1] = b "
        "THEN acc[1:len(acc)-1] || [a || b] "
        "ELSE acc || x END) END"
    )
    parts = ["""
WITH w0 AS (
  SELECT t AS w, COUNT(*) AS wc
  FROM documents, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS u(t)
  WHERE t <> '' GROUP BY t
), s0 AS (
  SELECT wc, list_transform(generate_series(1, length(w)), i -> substr(w, i, 1)) AS s
  FROM w0
)"""]
    for r in range(1, n_merges + 1):
        parts.append(f""", p{r} AS (
  SELECT s[i] AS a, s[i + 1] AS b, CAST(SUM(wc) AS BIGINT) AS c
  FROM s{r - 1}, unnest(generate_series(1, len(s) - 1)) AS t(i)
  GROUP BY 1, 2
), b{r} AS (
  SELECT a, b, c FROM p{r} ORDER BY c DESC, a, b LIMIT 1
), s{r} AS (
  SELECT wc, {fold} AS s FROM s{r - 1} CROSS JOIN b{r}
)""")
    selects = [
        f"SELECT {r} AS merge_rank, a AS lhs, b AS rhs, a || b AS merged, "
        f"c AS pair_count FROM b{r}"
        for r in range(1, n_merges + 1)
    ]
    parts.append("\n" + "\nUNION ALL\n".join(selects))
    return "".join(parts)


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer train -> APPLY -> count, end-to-end HASH-GATED (r6):
    the 4 merges learned by `bpe_train_fixed` (the `bpe_merges` gate)
    are collected at plan build (the bounded tokenizer artifact — the
    documented scalar-artifact pattern) and replayed over every word
    of every document by `bpe_encode`'s per-merge codegen folds; the
    output pins per doc the BPE token count, total tokenized chars,
    and the count of multi-char (merged) tokens.  The oracle re-learns
    the same merges AND re-applies them in DuckDB (word-keyed symbol
    map), so a hash match proves training and application agree across
    engines.  Apply stage: zero shuffles, zero Python."""
    from transcriptomics_data_integration_spark.llmdata.bpe import (
        bpe_encode,
        bpe_train_fixed,
    )

    docs = _t(spark, sf_dir, "documents")
    merges = [
        (r["lhs"], r["rhs"])
        for r in bpe_train_fixed(docs, "text", n_merges=4)
        .orderBy("merge_rank")
        .collect()
    ]
    # r12 REVERT (do not re-attempt): r11 spread the apply stage via a
    # conditional repartition(par, "doc_id") (§2.5).  Driver ground
    # truth: bpe_encode 1.9 -> 5.8 s at local[32], exactly 1.9 s at
    # local[8] — the fold is too light per row to amortize 32 tiny
    # tasks' scheduling + the exchange (VERDICT r11 item 1).  At lake
    # scale the guard was a no-op; the apply runs on the scan's splits.
    enc = bpe_encode(docs, merges)
    toks = F.col("bpe_tokens")
    return enc.select(
        "doc_id",
        F.size(toks).alias("n_bpe_tokens"),
        F.aggregate(
            toks, F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t)
        ).alias("n_chars_tok"),
        F.size(F.filter(toks, lambda t: F.length(t) > 1)).alias("n_merged_tokens"),
    )


def _oracle_bpe_encode(n_merges: int = 4) -> str:
    fold = (
        "CASE WHEN len(s) <= 1 THEN s ELSE "
        "list_reduce(list_prepend([s[1]], "
        "list_transform(generate_series(2, len(s)), j -> [s[j]])), "
        "(acc, x) -> CASE WHEN acc[-1] = a AND x[1] = b "
        "THEN acc[1:len(acc)-1] || [a || b] "
        "ELSE acc || x END) END"
    )
    parts = ["""
WITH w0 AS (
  SELECT t AS w, COUNT(*) AS wc
  FROM documents, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS u(t)
  WHERE t <> '' GROUP BY t
), s0 AS (
  SELECT w, wc, list_transform(generate_series(1, length(w)), i -> substr(w, i, 1)) AS s
  FROM w0
)"""]
    for r in range(1, n_merges + 1):
        parts.append(f""", p{r} AS (
  SELECT s[i] AS a, s[i + 1] AS b, CAST(SUM(wc) AS BIGINT) AS c
  FROM s{r - 1}, unnest(generate_series(1, len(s) - 1)) AS t(i)
  GROUP BY 1, 2
), b{r} AS (
  SELECT a, b, c FROM p{r} ORDER BY c DESC, a, b LIMIT 1
), s{r} AS (
  SELECT w, wc, {fold} AS s FROM s{r - 1} CROSS JOIN b{r}
)""")
    parts.append(f""", word_map AS (
  SELECT w, s FROM s{n_merges}
), doc_words AS (
  SELECT doc_id, t AS w
  FROM documents, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS u(t)
  WHERE t <> ''
), per_doc AS (
  SELECT dw.doc_id,
         CAST(SUM(len(m.s)) AS INTEGER) AS n_bpe_tokens,
         CAST(SUM(length(dw.w)) AS BIGINT) AS n_chars_tok,
         CAST(SUM(len(list_filter(m.s, t -> length(t) > 1))) AS INTEGER)
           AS n_merged_tokens
  FROM doc_words dw JOIN word_map m ON dw.w = m.w
  GROUP BY dw.doc_id
)
SELECT d.doc_id,
       COALESCE(p.n_bpe_tokens, 0) AS n_bpe_tokens,
       COALESCE(p.n_chars_tok, 0) AS n_chars_tok,
       COALESCE(p.n_merged_tokens, 0) AS n_merged_tokens
FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id""")
    return "".join(parts)


def q_edit_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs, HASH-GATED — SymSpell
    symmetric-delete banding + exact levenshtein verify
    (`llmdata/dedup.py:edit_distance_pairs`) over the corpus
    vocabulary (typo clustering of terms).  Integer distances,
    lexicographic pair order — engine-exact end-to-end."""
    from transcriptomics_data_integration_spark.llmdata.dedup import (
        edit_distance_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), "[^a-z0-9]+")
    vocab = (
        docs.select(F.explode(toks).alias("w"))
        .where((F.length("w") >= 4) & (F.length("w") <= 10))
        .distinct()
    )
    return edit_distance_pairs(vocab, "w", "w", max_dist=2)


ORACLE_EDIT_PAIRS = """
WITH vocab AS (
  SELECT DISTINCT t AS w
  FROM documents, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS u(t)
  WHERE length(t) BETWEEN 4 AND 10
), banded AS (
  SELECT w, v
  FROM vocab, unnest(
    list_prepend(w,
      list_concat(
        list_transform(generate_series(1, length(w)),
          i -> substr(w, 1, i - 1) || substr(w, i + 1, length(w))),
        flatten(list_transform(
          list_transform(generate_series(1, length(w)),
            i -> substr(w, 1, i - 1) || substr(w, i + 1, length(w))),
          d -> list_transform(generate_series(1, length(d)),
            j -> substr(d, 1, j - 1) || substr(d, j + 1, length(d)))))))
  ) AS s(v)
), cands AS (
  SELECT DISTINCT a.w AS id_a, b.w AS id_b
  FROM banded a JOIN banded b ON a.v = b.v
  WHERE a.w < b.w
)
SELECT id_a, id_b, levenshtein(id_a, id_b) AS dist
FROM cands
WHERE levenshtein(id_a, id_b) BETWEEN 1 AND 2
"""


def q_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + per-domain inventory, HASH-GATED — the
    provenance axis of crawl curation (`llmdata/urls.py`): mixed-case
    hosts, default ports, www prefixes, fragments, tracking params and
    trailing slashes all normalize away, then `domain_stats` inventories
    docs / distinct canonical urls / text volume per domain.  The
    oracle replays the SAME `_CANON_STEPS` table (single source of
    truth), translated to RE2 replacement syntax."""
    from transcriptomics_data_integration_spark.llmdata.urls import domain_stats

    docs = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("HTTPS://WWW."), F.col("source"), F.lit(".Example.COM:443/docs/"),
        F.col("lang"), F.lit("/"), (F.col("doc_id") % 40).cast("string"),
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit("/?utm_source=feed&ref="), F.col("doc_id").cast("string")))
        .when(F.col("doc_id") % 3 == 1,
              F.concat(F.lit("?id="), F.col("doc_id").cast("string"),
                       F.lit("&utm_campaign=x#top")))
        .otherwise(F.lit("/")),
    )
    with_url = docs.withColumn("url", url)
    out = domain_stats(with_url, "url", text_col="text")
    return out.select("domain", "n_docs", "n_urls", "total_chars")


def _oracle_url_canonical() -> str:
    from transcriptomics_data_integration_spark.llmdata.urls import _CANON_STEPS

    expr = "u"
    head = f"regexp_extract({expr}, '^([a-zA-Z]+://[^/?#]*)', 1)"
    out = (
        f"(lower({head}) || substr({expr}, length({head}) + 1, length({expr})))"
    )
    for pat, rep in _CANON_STEPS:
        rep_sql = rep.replace("$", "\\")  # Java $1 -> RE2 \1
        out = f"regexp_replace({out}, '{pat}', '{rep_sql}', 'g')"
    return f"""
WITH raw AS (
  SELECT doc_id, text,
         'HTTPS://WWW.' || source || '.Example.COM:443/docs/' || lang || '/' ||
         CAST(doc_id % 40 AS VARCHAR) ||
         CASE WHEN doc_id % 3 = 0 THEN '/?utm_source=feed&ref=' || CAST(doc_id AS VARCHAR)
              WHEN doc_id % 3 = 1 THEN '?id=' || CAST(doc_id AS VARCHAR) || '&utm_campaign=x#top'
              ELSE '/' END AS u
  FROM documents
), canon AS (
  SELECT doc_id, text, {out} AS cu FROM raw
), dom AS (
  SELECT doc_id, text, cu, regexp_extract(cu, '^[a-z]+://([^/:?#]+)', 1) AS domain
  FROM canon
)
SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT cu) AS BIGINT) AS n_urls,
       CAST(SUM(length(text)) AS BIGINT) AS total_chars
FROM dom GROUP BY domain
"""


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc line dedup, HASH-GATED — CCNet-style boilerplate
    trim (`llmdata/text.py:dedup_lines`): multi-line docs are built
    from the corpus with planted repeated banner lines; repeated lines
    keep their first occurrence, order preserved.  Gated on line
    counts + the md5 of the deduped text."""
    from transcriptomics_data_integration_spark.llmdata.text import dedup_lines

    docs = _t(spark, sf_dir, "documents")
    multi = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.substring("text", 1, 40),
            F.lit("COOKIE BANNER"),
            F.substring("text", 41, 40),
            F.lit("COOKIE BANNER"),
            F.substring("text", 1, 40),
            F.concat(F.lit("footer "), F.col("lang")),
        ).alias("text"),
    )
    out = dedup_lines(multi, "doc_id")
    return out.select(
        "doc_id", "n_lines", "n_unique_lines",
        F.md5(F.col("text_deduped").cast("binary")).alias("dedup_md5"),
    )


ORACLE_LINE_DEDUP = """
WITH multi AS (
  SELECT doc_id,
         concat_ws(chr(10),
           substr(text, 1, 40), 'COOKIE BANNER', substr(text, 41, 40),
           'COOKIE BANNER', substr(text, 1, 40), 'footer ' || lang) AS text
  FROM documents
), arr AS (
  SELECT doc_id, string_split(text, chr(10)) AS ls FROM multi
), kept AS (
  SELECT doc_id, len(ls) AS n_lines,
         list_filter(
           list_transform(generate_series(1, len(ls)), i ->
             CASE WHEN len(list_filter(ls[1:i - 1], p -> p = ls[i])) = 0
             THEN ls[i] END),
           v -> v IS NOT NULL) AS kl
  FROM arr
)
SELECT doc_id, CAST(n_lines AS INTEGER) AS n_lines,
       CAST(len(kl) AS INTEGER) AS n_unique_lines,
       md5(list_aggregate(kl, 'string_agg', chr(10))) AS dedup_md5
FROM kept
"""


def q_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint overlap, HASH-GATED — MOSS-style
    position-robust duplicate evidence (`llmdata/text.py:
    winnow_fingerprints`, Schleimer et al. 2003): per-doc window-min
    k-gram fingerprints, ubiquitous fingerprints dropped (> 20 docs —
    the paper's common-idiom removal), then doc pairs ranked by shared
    fingerprint count.  60-bit md5 hashes + integer counts:
    engine-exact end-to-end."""
    from transcriptomics_data_integration_spark.llmdata.text import (
        winnow_fingerprints,
    )

    # the k-gram hash transform is COMPUTE-bound (~len(text) md5 calls
    # per doc), so a small parquet file's 1-split scan would serialize
    # it on one core — spread the map work ONLY when the scan is
    # under-split (at lake scale the scan splits naturally and this
    # branch inserts no shuffle)
    docs = _t(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par, "doc_id")
    fps = winnow_fingerprints(docs, "doc_id", k=5, window=4)
    # fps rows are distinct (doc_id, fingerprint), so docs-per-
    # fingerprint is a plain count — a window avoids the groupBy +
    # re-join against fps.  kept feeds both sides of the pair
    # self-join; the persist keeps the md5 winnowing + rarity window
    # from executing twice (measured: it dominates wall time at sf0.1)
    w = Window.partitionBy("fingerprint")
    kept = (
        fps.withColumn("_nd", F.count(F.lit(1)).over(w))
        .where(F.col("_nd") <= 20)
        .select("doc_id", "fingerprint")
        .persist()
    )
    register_persisted(kept)
    a = kept.select(F.col("doc_id").alias("id_a"), "fingerprint")
    b = kept.select(F.col("doc_id").alias("id_b"), "fingerprint")
    return (
        a.join(b, "fingerprint")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= 5)
    )


ORACLE_WINNOW_OVERLAP = """
WITH hs AS (
  SELECT doc_id,
         list_transform(generate_series(1, length(text) - 4),
           i -> ('0x' || substr(md5(substr(text, i, 5)), 1, 15))::BIGINT) AS h
  FROM documents
  WHERE length(text) >= 5
), wins AS (
  SELECT doc_id,
         list_transform(generate_series(1, greatest(len(h) - 3, 1)),
           p -> list_reduce(
             list_prepend(CAST(NULL AS BIGINT),
                          h[p : p + least(4, len(h)) - 1]),
             (acc, x) -> CASE WHEN acc IS NULL OR x <= acc
                         THEN x ELSE acc END)) AS w
  FROM hs WHERE len(h) >= 1
), fps AS (
  SELECT doc_id, fp, CAST(COUNT(*) AS BIGINT) AS n_windows
  FROM wins, unnest(w) AS u(fp) GROUP BY 1, 2
), rare AS (
  SELECT fp FROM fps GROUP BY fp HAVING COUNT(DISTINCT doc_id) <= 20
), kept AS (
  SELECT f.doc_id, f.fp FROM fps f JOIN rare USING (fp)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_shared
FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= 5
"""


QUERIES_LLM = {
    "winnow_overlap": q_winnow_overlap,
    "line_dedup": q_line_dedup,
    "url_canonical": q_url_canonical,
    "edit_pairs": q_edit_pairs,
    "bpe_merges": q_bpe_merges,
    "bpe_encode": q_bpe_encode,
    "ann_recall": q_ann_recall,
    "doc_logprob": q_doc_logprob,
    "ivf_fixed": q_ivf_fixed,
    "pq_fixed": q_pq_fixed,
    "token_stats": q_token_stats,
    "text_quality": q_text_quality,
    "language_id": q_language_id,
    "doc_fingerprint": q_doc_fingerprint,
    "dedup_exact": q_dedup_exact,
    "ngram_jaccard": q_ngram_jaccard,
    "minhash_lsh": q_minhash_lsh,
    "simhash": q_simhash,
    "cosine_topk": q_cosine_topk,
    "lsh_ann": q_lsh_ann,
    "cosine_neardup": q_cosine_neardup,
    "multimodal_featurize": q_multimodal_featurize,
    "media_header_decode": q_media_header_decode,
    "png_pixels": q_png_pixels,
    "jpeg_pixels": q_jpeg_pixels,
    "gif_pixels": q_gif_pixels,
    "mp4_header": q_mp4_header,
    "flac_header": q_flac_header,
    "wav_decode": q_wav_decode,
    "event_window_counts": q_event_window_counts,
    "sessionize": q_sessionize,
    "json_extract": q_json_extract,
}

ORACLES_LLM = {
    "winnow_overlap": ORACLE_WINNOW_OVERLAP,
    "line_dedup": ORACLE_LINE_DEDUP,
    "url_canonical": _oracle_url_canonical(),
    "edit_pairs": ORACLE_EDIT_PAIRS,
    "bpe_merges": _oracle_bpe_merges(),
    "bpe_encode": _oracle_bpe_encode(),
    "ann_recall": _oracle_ann_recall(),
    "doc_logprob": ORACLE_DOC_LOGPROB,
    "ivf_fixed": ORACLE_IVF_FIXED,
    "pq_fixed": _oracle_pq_fixed(),
    "token_stats": ORACLE_TOKEN_STATS,
    "text_quality": ORACLE_TEXT_QUALITY,
    "language_id": ORACLE_LANGUAGE_ID,
    "doc_fingerprint": ORACLE_FINGERPRINT,
    "dedup_exact": ORACLE_DEDUP_EXACT,
    "ngram_jaccard": ORACLE_NGRAM_JACCARD,
    "minhash_lsh": ORACLE_MINHASH_LSH,
    "simhash": ORACLE_SIMHASH,
    "cosine_topk": ORACLE_COSINE_TOPK,
    "lsh_ann": ORACLE_LSH_ANN,
    "cosine_neardup": _oracle_cosine_neardup(),
    "multimodal_featurize": ORACLE_MULTIMODAL,
    "media_header_decode": ORACLE_MEDIA_HEADER,
    "png_pixels": ORACLE_PNG_PIXELS,
    "jpeg_pixels": ORACLE_JPEG_PIXELS,
    "gif_pixels": ORACLE_GIF_PIXELS,
    "mp4_header": ORACLE_MP4_HEADER,
    "flac_header": ORACLE_FLAC_HEADER,
    "wav_decode": ORACLE_WAV_DECODE,
    "event_window_counts": ORACLE_EVENT_WINDOW,
    "sessionize": ORACLE_SESSIONIZE,
    "json_extract": ORACLE_JSON_EXTRACT,
}


def q_duplicate_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-chunk fraction (Gopher-style repetition signal) over
    the corpus: per doc, the share of its 3-word chunks that occur more
    than once corpus-wide."""
    from transcriptomics_data_integration_spark.llmdata.text import duplicate_chunk_stats

    docs = _t(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par)  # one-split fan-out (r7 finding)
    out = duplicate_chunk_stats(docs, "doc_id", "text", chunk_words=3)
    return out.select("doc_id", "n_chunks", "n_dup_chunks", "dup_chunk_ratio")


ORACLE_DUPLICATE_CHUNKS = """
WITH words AS (
  SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
), chunks AS (
  SELECT doc_id,
         UNNEST(list_transform(
           generate_series(0, CAST(ceil(len(w) / 3.0e0) AS INT) - 1),
           i -> array_to_string(list_slice(w, i * 3 + 1, i * 3 + 3), ' '))) AS chunk
  FROM words
), counted AS (
  SELECT doc_id, COUNT(*) OVER (PARTITION BY md5(chunk)) AS n_occ FROM chunks
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
       SUM(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE)
         AS dup_chunk_ratio
FROM counted GROUP BY doc_id
"""

QUERIES_LLM["duplicate_chunks"] = q_duplicate_chunks
ORACLES_LLM["duplicate_chunks"] = ORACLE_DUPLICATE_CHUNKS


def q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals (the Gopher repetition-filter
    family, Rae et al. 2021): per doc, the char fraction covered by the
    most frequent word 2-gram and by duplicated word 5-grams — the
    standard keyword-stuffing / template-spam filters, complementary to
    the corpus-wide `duplicate_chunks` signal.  Integer counts end in
    single IEEE divisions, so the oracle matches bitwise."""
    from transcriptomics_data_integration_spark.llmdata.text import repetition_stats

    docs = _t(spark, sf_dir, "documents")
    return repetition_stats(docs, "doc_id", "text")


ORACLE_GOPHER_REPETITION = r"""
WITH words AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents
), g2 AS (
  SELECT doc_id,
         UNNEST(CASE WHEN len(w) >= 2 THEN list_transform(
             generate_series(1, len(w) - 1),
             i -> array_to_string(list_slice(w, i, i + 1), ' '))
           ELSE [] END) AS gram
  FROM words
), p2 AS (
  SELECT doc_id, gram, COUNT(*) AS cnt, length(gram) AS glen
  FROM g2 GROUP BY doc_id, gram
), a2 AS (
  SELECT doc_id, CAST(SUM(cnt * glen) AS BIGINT) AS total_2,
         CAST(MAX(cnt * glen) AS BIGINT) AS top_2
  FROM p2 GROUP BY doc_id
), g5 AS (
  SELECT doc_id,
         UNNEST(CASE WHEN len(w) >= 5 THEN list_transform(
             generate_series(1, len(w) - 4),
             i -> array_to_string(list_slice(w, i, i + 4), ' '))
           ELSE [] END) AS gram
  FROM words
), p5 AS (
  SELECT doc_id, gram, COUNT(*) AS cnt, length(gram) AS glen
  FROM g5 GROUP BY doc_id, gram
), a5 AS (
  SELECT doc_id, CAST(SUM(cnt * glen) AS BIGINT) AS total_5,
         CAST(SUM(CASE WHEN cnt > 1 THEN cnt * glen ELSE 0 END) AS BIGINT) AS dup_5
  FROM p5 GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(total_2, 0) AS n2_chars,
       COALESCE(top_2 / CAST(total_2 AS DOUBLE), 0.0e0) AS top_2gram_frac,
       COALESCE(total_5, 0) AS n5_chars,
       COALESCE(dup_5 / CAST(total_5 AS DOUBLE), 0.0e0) AS dup_5gram_frac
FROM documents d LEFT JOIN a2 USING (doc_id) LEFT JOIN a5 USING (doc_id)
"""

QUERIES_LLM["gopher_repetition"] = q_gopher_repetition
ORACLES_LLM["gopher_repetition"] = ORACLE_GOPHER_REPETITION


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup on a corpus with planted near-dups
    (every vector unioned with its +0.01-perturbed copy, the
    cosine_neardup fixture): Knuth-hash cells -> within-cell pairwise
    cosine -> keep the lowest-centroid-cosine member of each duplicate
    pair.  HASH-GATED end-to-end (`llmdata/similarity.py:semdedup`)."""
    from transcriptomics_data_integration_spark.llmdata.similarity import semdedup

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    pert = emb.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.expr(_PERTURB_SPARK).alias("embedding"),
    )
    corpus = emb.unionByName(pert)
    out = semdedup(corpus, n_cells=16, tau=0.9, dim=64)
    return out.select(
        "vec_id",
        "cell",
        F.round("cos_centroid", 6).alias("cos_centroid"),
        "kept",
    )


def _oracle_semdedup() -> str:
    l2 = _L2_SQL
    return f"""
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, {_PERTURB_SQL} AS embedding FROM embeddings
), base AS (
  SELECT vec_id AS cand_id, embedding AS c_vec,
         (((((vec_id % 4294967296) // 65536) * 2654435761) % 65536) * 65536
          + ((vec_id % 65536) * 2654435761)) % 4294967296 AS h
  FROM corpus
), picked AS (
  SELECT h, cand_id, c_vec FROM base ORDER BY h, cand_id LIMIT 16
), centers AS (
  SELECT ROW_NUMBER() OVER (ORDER BY h, cand_id) - 1 AS cell,
         list_transform(c_vec, x -> CAST(x AS DOUBLE)) AS center
  FROM picked
), ac AS (
  SELECT b.cand_id, b.c_vec, c.cell, c.center,
         {l2.format(a='b.c_vec', b='c.center')} AS dist
  FROM base b CROSS JOIN centers c
), assigned AS (
  SELECT cand_id, c_vec, cell, center FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY cand_id ORDER BY dist, cell) AS rn
    FROM ac
  ) WHERE rn = 1
), normed AS (
  SELECT cand_id, cell, c_vec,
         sqrt({_DOT_SQL.format(a='c_vec', b='c_vec')}) AS vnorm,
         sqrt({_DOT_SQL.format(a='center', b='center')}) AS center_norm,
         {_DOT_SQL.format(a='c_vec', b='center')} AS dc
  FROM assigned
), scored AS (
  SELECT cand_id, cell, c_vec, vnorm,
         CASE WHEN vnorm * center_norm > 0 THEN dc / (vnorm * center_norm)
              ELSE 0.0e0 END AS cos_centroid
  FROM normed
), dropped AS (
  SELECT DISTINCT a.cand_id
  FROM scored a JOIN scored b ON a.cell = b.cell AND a.cand_id <> b.cand_id
  WHERE (b.cos_centroid < a.cos_centroid
         OR (b.cos_centroid = a.cos_centroid AND b.cand_id < a.cand_id))
    AND (CASE WHEN a.vnorm * b.vnorm > 0 THEN
           {_DOT_SQL.format(a='a.c_vec', b='b.c_vec')} / (a.vnorm * b.vnorm)
         ELSE 0.0e0 END) >= 0.9e0
)
SELECT s.cand_id AS vec_id, s.cell,
       ROUND(s.cos_centroid, 6) AS cos_centroid,
       d.cand_id IS NULL AS kept
FROM scored s LEFT JOIN dropped d ON s.cand_id = d.cand_id
"""


QUERIES_LLM["semdedup"] = q_semdedup
ORACLES_LLM["semdedup"] = _oracle_semdedup()


def q_semdedup_2level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with the billion-scale TWO-LEVEL coarse quantizer on
    the same planted-near-dup fixture as `semdedup` (r5 verdict item
    2): vectors route through sqrt(k) level-1 groups before the
    within-group argmin, so assignment is n*O(sqrt(k))*d instead of
    n*k*d.  HASH-GATED end-to-end against a DuckDB replay of the
    two-stage argmin (`llmdata/similarity.py:semdedup_2level`)."""
    from transcriptomics_data_integration_spark.llmdata.similarity import (
        semdedup_2level,
    )

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    pert = emb.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.expr(_PERTURB_SPARK).alias("embedding"),
    )
    corpus = emb.unionByName(pert)
    out = semdedup_2level(corpus, n_cells=16, tau=0.9, n_coarse=4, dim=64)
    return out.select(
        "vec_id",
        "cell",
        F.round("cos_centroid", 6).alias("cos_centroid"),
        "kept",
    )


def _oracle_semdedup_2level() -> str:
    l2 = _L2_SQL
    return f"""
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, {_PERTURB_SQL} AS embedding FROM embeddings
), base AS (
  SELECT vec_id AS cand_id, embedding AS c_vec,
         (((((vec_id % 4294967296) // 65536) * 2654435761) % 65536) * 65536
          + ((vec_id % 65536) * 2654435761)) % 4294967296 AS h
  FROM corpus
), picked AS (
  SELECT h, cand_id, c_vec FROM base ORDER BY h, cand_id LIMIT 16
), centers AS (
  SELECT ROW_NUMBER() OVER (ORDER BY h, cand_id) - 1 AS cell,
         list_transform(c_vec, x -> CAST(x AS DOUBLE)) AS center
  FROM picked
), coarse AS (
  SELECT cell AS g, center AS gcenter FROM centers WHERE cell < 4
), cg AS (
  SELECT cell, center,
         CASE WHEN cell < 4 THEN cell ELSE g END AS g
  FROM (
    SELECT c.cell, c.center, co.g,
           ROW_NUMBER() OVER (
             PARTITION BY c.cell
             ORDER BY {l2.format(a='c.center', b='co.gcenter')}, co.g
           ) AS rn
    FROM centers c CROSS JOIN coarse co
  ) WHERE rn = 1
), l1 AS (
  SELECT cand_id, c_vec, g FROM (
    SELECT b.cand_id, b.c_vec, co.g,
           ROW_NUMBER() OVER (
             PARTITION BY b.cand_id
             ORDER BY {l2.format(a='b.c_vec', b='co.gcenter')}, co.g
           ) AS rn
    FROM base b CROSS JOIN coarse co
  ) WHERE rn = 1
), assigned AS (
  SELECT cand_id, c_vec, cell, center FROM (
    SELECT v.cand_id, v.c_vec, m.cell, m.center,
           ROW_NUMBER() OVER (
             PARTITION BY v.cand_id
             ORDER BY {l2.format(a='v.c_vec', b='m.center')}, m.cell
           ) AS rn
    FROM l1 v JOIN cg m ON v.g = m.g
  ) WHERE rn = 1
), normed AS (
  SELECT cand_id, cell, c_vec,
         sqrt({_DOT_SQL.format(a='c_vec', b='c_vec')}) AS vnorm,
         sqrt({_DOT_SQL.format(a='center', b='center')}) AS center_norm,
         {_DOT_SQL.format(a='c_vec', b='center')} AS dc
  FROM assigned
), scored AS (
  SELECT cand_id, cell, c_vec, vnorm,
         CASE WHEN vnorm * center_norm > 0 THEN dc / (vnorm * center_norm)
              ELSE 0.0e0 END AS cos_centroid
  FROM normed
), dropped AS (
  SELECT DISTINCT a.cand_id
  FROM scored a JOIN scored b ON a.cell = b.cell AND a.cand_id <> b.cand_id
  WHERE (b.cos_centroid < a.cos_centroid
         OR (b.cos_centroid = a.cos_centroid AND b.cand_id < a.cand_id))
    AND (CASE WHEN a.vnorm * b.vnorm > 0 THEN
           {_DOT_SQL.format(a='a.c_vec', b='b.c_vec')} / (a.vnorm * b.vnorm)
         ELSE 0.0e0 END) >= 0.9e0
)
SELECT s.cand_id AS vec_id, s.cell,
       ROUND(s.cos_centroid, 6) AS cos_centroid,
       d.cand_id IS NULL AS kept
FROM scored s LEFT JOIN dropped d ON s.cand_id = d.cand_id
"""


QUERIES_LLM["semdedup_2level"] = q_semdedup_2level
ORACLES_LLM["semdedup_2level"] = _oracle_semdedup_2level()


def q_quality_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine weak-supervision quality classifier, HASH-GATED —
    global 3-parameter logistic (intercept + centered ln-token-count +
    centered stopword ratio) fit by fixed 2-step IRLS from beta = 0
    (Cramer 3x3 solve shared verbatim with the oracle), then sigmoid
    scores per doc (`llmdata/quality_model.py`).  The corpus-side
    composition of M14's modelOutcome logistic
    (`Meta_analysis.R:581-598`)."""
    from transcriptomics_data_integration_spark.llmdata.quality_model import (
        quality_model_score,
    )

    docs = _t(spark, sf_dir, "documents")
    out = quality_model_score(docs, "doc_id", "text")
    return out.select(
        "doc_id",
        "label",
        F.round("score", 6).alias("score"),
        "decision",
        F.round("b0", 6).alias("b0"),
        F.round("b1", 6).alias("b1"),
        F.round("b2", 6).alias("b2"),
    )


def _oracle_quality_model() -> str:
    from transcriptomics_data_integration_spark.stats.fixed_twins import cramer3_sql

    det, b0, b1, b2 = cramer3_sql({k: k for k in [
        "sw", "swx", "swn", "swxx", "swxn", "swnn", "swy", "swxy", "swny"]})
    moments = (
        "SUM(w) AS sw, SUM(w * x) AS swx, SUM(w * n) AS swn, "
        "SUM(w * x * x) AS swxx, SUM(w * x * n) AS swxn, "
        "SUM(w * n * n) AS swnn, SUM(w * z) AS swy, "
        "SUM(w * x * z) AS swxy, SUM(w * n * z) AS swny"
    )
    eta = "greatest(least(b0 + b1 * x + b2 * n, 30.0e0), -30.0e0)"
    return rf"""
WITH toks AS (
  SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS tk
  FROM documents
), feats0 AS (
  SELECT doc_id,
         ln(1.0e0 + CAST(len(tk) AS DOUBLE)) AS x_raw,
         COALESCE(CAST(len(list_filter(tk,
             t -> t IN ('the', 'and', 'of', 'a', 'to'))) AS DOUBLE)
           / NULLIF(CAST(len(tk) AS DOUBLE), 0), 0.0e0) AS n_raw,
         CASE WHEN list_contains(tk, 'spark') THEN 1.0e0 ELSE 0.0e0 END AS y
  FROM toks
), mns AS (
  SELECT AVG(x_raw) AS mx, AVG(n_raw) AS mn FROM feats0
), feats AS (
  SELECT doc_id, y, x_raw - mx AS x, n_raw - mn AS n
  FROM feats0 CROSS JOIN mns
), s1 AS (
  SELECT *, 0.25e0 AS w, 4.0e0 * (y - 0.5e0) AS z FROM feats
), mom1 AS (
  SELECT {moments} FROM s1
), beta1 AS (
  SELECT {b0} AS b0, {b1} AS b1, {b2} AS b2
  FROM (SELECT *, {det} AS _det FROM mom1)
), s2e AS (
  SELECT f.*, {eta} AS eta FROM feats f CROSS JOIN beta1
), s2m AS (
  SELECT *, 1.0e0 / (1.0e0 + exp(-eta)) AS mu FROM s2e
), s2w AS (
  SELECT *, greatest(mu * (1.0e0 - mu), 1.0e-9) AS w FROM s2m
), s2 AS (
  SELECT *, eta + (y - mu) / w AS z FROM s2w
), mom2 AS (
  SELECT {moments} FROM s2
), beta2 AS (
  SELECT {b0} AS b0, {b1} AS b1, {b2} AS b2
  FROM (SELECT *, {det} AS _det FROM mom2)
), scored AS (
  SELECT f.doc_id, f.y, b0, b1, b2,
         1.0e0 / (1.0e0 + exp(-({eta}))) AS score
  FROM feats f CROSS JOIN beta2
)
SELECT doc_id, CAST(y AS INTEGER) AS label,
       ROUND(score, 6) AS score,
       ROUND(score, 6) >= 0.5e0 AS decision,
       ROUND(b0, 6) AS b0, ROUND(b1, 6) AS b1, ROUND(b2, 6) AS b2
FROM scored
"""


QUERIES_LLM["quality_model"] = q_quality_model
ORACLES_LLM["quality_model"] = _oracle_quality_model()


def q_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration, HASH-GATED — exact 5-shingle
    Jaccard vs the 64-hash signature-agreement estimate on every
    shingle-sharing pair of a 5% doc sample
    (`llmdata/dedup.py:minhash_accuracy`): the measurement that
    justifies the banded-LSH thresholds `minhash_lsh` runs with
    (E[est] = J, sd = sqrt(J(1-J)/64)).  Bounded quadratic by
    construction, like the other exact baselines."""
    from transcriptomics_data_integration_spark.llmdata.dedup import (
        minhash_accuracy,
    )

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 20 == 0)
    out = minhash_accuracy(docs, "doc_id", "text", n_hashes=64)
    return out.select(
        "id_a", "id_b", "n_a", "n_b", "n_inter", "n_match",
        F.round("jaccard", 6).alias("jaccard"),
        F.round("estimate", 6).alias("estimate"),
        F.round("abs_err", 6).alias("abs_err"),
    )


ORACLE_MINHASH_ACCURACY = f"""
WITH sample_docs AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0
), sh AS (
  SELECT doc_id, UNNEST({_SHINGLE_SQL}) AS shingle FROM sample_docs
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), seeded AS (
  SELECT doc_id, seed, shingle
  FROM sh, (SELECT UNNEST(generate_series(0, 63)) AS seed)
), sigs AS (
  SELECT doc_id, seed,
         MIN((CASE WHEN seed % 2 = 0
            THEN ('0x' || substring(md5(shingle || '#' || CAST(seed // 4 AS VARCHAR)),
                                    1 + 15 * ((seed // 2) % 2), 15))::BIGINT // 1073741824
            ELSE ('0x' || substring(md5(shingle || '#' || CAST(seed // 4 AS VARCHAR)),
                                    1 + 15 * ((seed // 2) % 2), 15))::BIGINT % 1073741824
       END))
           AS minhash
  FROM seeded GROUP BY doc_id, seed
), est AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(SUM(CASE WHEN a.minhash = b.minhash THEN 1 ELSE 0 END) AS BIGINT)
           AS n_match
  FROM sigs a JOIN sigs b ON a.seed = b.seed AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), joined AS (
  SELECT i.id_a, i.id_b,
         sa.n_sh AS n_a, sb.n_sh AS n_b, i.n_inter,
         COALESCE(e.n_match, 0) AS n_match,
         i.n_inter / CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE) AS jaccard,
         COALESCE(e.n_match, 0) / 64.0e0 AS estimate
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.id_a
  JOIN sizes sb ON sb.doc_id = i.id_b
  LEFT JOIN est e ON e.id_a = i.id_a AND e.id_b = i.id_b
)
SELECT id_a, id_b, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       CAST(n_inter AS BIGINT) AS n_inter, n_match,
       ROUND(jaccard, 6) AS jaccard,
       ROUND(estimate, 6) AS estimate,
       ROUND(abs(estimate - jaccard), 6) AS abs_err
FROM joined
"""

QUERIES_LLM["minhash_accuracy"] = q_minhash_accuracy
ORACLES_LLM["minhash_accuracy"] = ORACLE_MINHASH_ACCURACY


def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM-corpus preparation END-TO-END, HASH-GATED — the training-
    data analogue of the DE-side `closed_pipeline`: two-crawl corpus
    -> Gopher quality filter (keep verdicts) -> SimHash near-dup pairs
    -> connected-component closure -> keep-longest survivor per
    cluster -> per-survivor token accounting.  Every stage is an
    already-gated kernel; the composition gets its own end-to-end
    DuckDB oracle (quality flags + banded-signature pairs + recursive
    closure + argmax window + token stats chained as one SQL), so a
    regression ANYWHERE in the chain trips one hash."""
    from transcriptomics_data_integration_spark.llmdata.dedup import (
        dedup_clusters,
        keep_best_per_cluster,
        simhash_neardup_pairs,
    )
    from transcriptomics_data_integration_spark.llmdata.text import quality_filter

    from transcriptomics_data_integration_spark.runtime import register_persisted

    docs = _two_crawls(_t(spark, sf_dir, "documents"), parallelize=False)
    kept_docs = (
        quality_filter(docs).where(F.col("keep")).select("doc_id", "text")
        # three chain branches read the filtered corpus (pair mining,
        # survivor selection, final token accounting) — cache it once
        .persist()
    )
    register_persisted(kept_docs)
    # star edge set (r8): linear in exact-dup clique size, identical
    # transitive closure — the corpus_pipeline consumes only the closure
    pairs = simhash_neardup_pairs(kept_docs, "doc_id", max_hamming=3, expand="star")
    clusters = dedup_clusters(pairs.select("id_a", "id_b"))
    survivors = keep_best_per_cluster(
        kept_docs, clusters, "doc_id", score=F.length("text").cast("long")
    )
    out = survivors.join(
        kept_docs.select(F.col("doc_id").alias("kept_id"), "text"), "kept_id"
    )
    # single-space split — the SAME tokenizer the quality_filter stage
    # (llmdata/text.py:_tokens) and the oracle's string_split use, so
    # token counts agree for inputs with runs of whitespace (r5 ADVICE)
    toks = F.split(F.trim(F.col("text")), " ")
    return out.select(
        "kept_id",
        "cluster_key",
        "cluster_size",
        "kept_score",
        F.size(toks).alias("n_tokens"),
        F.length("text").alias("n_chars"),
    )


def _oracle_corpus_pipeline() -> str:
    # the dedup_clusters closure chain, re-rooted at the quality-kept
    # corpus: crawls -> quality keep -> simhash pairs -> recursive
    # closure -> keep-longest survivor -> token accounting
    return r"""
WITH RECURSIVE crawls AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents
), qs AS (
  SELECT doc_id, text,
         len(string_split(trim(text), ' ')) AS n_tokens,
         length(text) AS n_chars,
         len(list_filter(string_split(trim(text), ' '),
             t -> t IN ('the', 'and', 'of', 'a', 'to'))) AS stop_hits,
         length(text) - length(regexp_replace(text, '[\.,;:!\?]', '', 'g')) AS n_punct
  FROM crawls
), kept AS (
  SELECT doc_id, text FROM qs
  WHERE (n_tokens BETWEEN 3 AND 100000)
    AND (((n_chars - (n_tokens - 1)) / n_tokens) BETWEEN 2.0 AND 12.0)
    AND (n_punct / n_chars) <= 0.3
    AND (stop_hits / n_tokens) > 0.0
), toks AS (
  SELECT doc_id, UNNEST(string_split(trim(text), ' ')) AS token FROM kept
), hashed AS (
  SELECT doc_id, ('0x' || substring(md5(token), 1, 15))::BIGINT AS h FROM toks
), bits AS (
  SELECT doc_id, bit, SUM(((h >> bit) & CAST(1 AS BIGINT)) * 2 - 1) AS s
  FROM hashed, (SELECT UNNEST(generate_series(0, 59)) AS bit)
  GROUP BY doc_id, bit
), sig AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
  FROM bits GROUP BY doc_id
), banded AS (
  SELECT doc_id, simhash, b.b AS band, (simhash >> (b.b * 15)) & 32767 AS key
  FROM sig, (SELECT UNNEST(generate_series(0, 3)) AS b) b
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
  FROM banded a JOIN banded b2
    ON a.band = b2.band AND a.key = b2.key AND a.doc_id < b2.doc_id
  WHERE bit_count(xor(a.simhash, b2.simhash)) <= 3
), edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
), reach(src, dst) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
), closure AS (
  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS canonical_id
  FROM reach GROUP BY src
), joined AS (
  SELECT k.doc_id,
         CAST(length(k.text) AS BIGINT) AS _score,
         COALESCE(q.canonical_id, k.doc_id) AS cluster_key
  FROM kept k LEFT JOIN closure q USING (doc_id)
), surv AS (
  SELECT cluster_key,
         doc_id AS kept_id,
         CAST(COUNT(*) OVER (PARTITION BY cluster_key) AS BIGINT) AS cluster_size,
         _score AS kept_score
  FROM joined
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY cluster_key ORDER BY _score DESC, doc_id ASC) = 1
)
SELECT s.kept_id, s.cluster_key, s.cluster_size, s.kept_score,
       CAST(len(string_split(trim(k.text), ' ')) AS INTEGER) AS n_tokens,
       CAST(length(k.text) AS INTEGER) AS n_chars
FROM surv s JOIN kept k ON k.doc_id = s.kept_id
"""


QUERIES_LLM["corpus_pipeline"] = q_corpus_pipeline
ORACLES_LLM["corpus_pipeline"] = _oracle_corpus_pipeline()


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs on the two-crawl corpus: banded 60-bit
    signatures, exact-Hamming verify (<= 3).  Complete for distance <
    n_bands by pigeonhole — the integer-exact dedup complement to
    `minhash_lsh`."""
    from transcriptomics_data_integration_spark.llmdata.dedup import (
        simhash_neardup_pairs,
    )

    docs = _two_crawls(_t(spark, sf_dir, "documents"))
    return simhash_neardup_pairs(docs, "doc_id", max_hamming=3)


ORACLE_SIMHASH_NEARDUP = """
WITH crawls AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents
), toks AS (
  SELECT doc_id, UNNEST(string_split(trim(text), ' ')) AS token FROM crawls
), hashed AS (
  SELECT doc_id, ('0x' || substring(md5(token), 1, 15))::BIGINT AS h FROM toks
), bits AS (
  SELECT doc_id, bit, SUM(((h >> bit) & CAST(1 AS BIGINT)) * 2 - 1) AS s
  FROM hashed, (SELECT UNNEST(generate_series(0, 59)) AS bit)
  GROUP BY doc_id, bit
), sig AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
  FROM bits GROUP BY doc_id
), banded AS (
  SELECT doc_id, simhash, b.b AS band, (simhash >> (b.b * 15)) & 32767 AS key
  FROM sig, (SELECT UNNEST(generate_series(0, 3)) AS b) b
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b,
         a.simhash AS sig_a, b2.simhash AS sig_b
  FROM banded a JOIN banded b2
    ON a.band = b2.band AND a.key = b2.key AND a.doc_id < b2.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(sig_a, sig_b)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 3
"""

QUERIES_LLM["simhash_neardup"] = q_simhash_neardup
ORACLES_LLM["simhash_neardup"] = ORACLE_SIMHASH_NEARDUP


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click attached to the user's most recent
    preceding view (left semantics).  Spark runs the union+window shape
    (`operators/joins.py:asof_join`, one shuffle, no range explode);
    the oracle is DuckDB's native ASOF LEFT JOIN — two independent
    formulations of the semantics."""
    from transcriptomics_data_integration_spark.operators.joins import asof_join

    ev = _events(spark, sf_dir)
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = ev.where(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", "value"
    )
    out = asof_join(clicks, views, ["user_id"], "ts", ["event_id", "value"], "event_id")
    return out.select(
        "event_id",
        "user_id",
        F.expr(f"ts div {_NS_PER_S}").alias("ts_sec"),
        F.col("event_id_asof").alias("view_event_id"),
        F.col("value_asof").alias("view_value"),
    )


ORACLE_ASOF_JOIN = """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), views AS (
  SELECT event_id AS view_event_id, user_id, ts, value AS view_value
  FROM events WHERE event_type = 'view'
)
SELECT c.event_id, c.user_id,
       CAST(epoch_ns(c.ts) // 1000000000 AS BIGINT) AS ts_sec,
       v.view_event_id, v.view_value
FROM clicks c ASOF LEFT JOIN views v
  ON c.user_id = v.user_id AND v.ts <= c.ts
"""

QUERIES_LLM["asof_join"] = q_asof_join
ORACLES_LLM["asof_join"] = ORACLE_ASOF_JOIN


def q_asof_directions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join direction/tolerance surface, HASH-GATED (r7): the
    pandas-merge_asof semantics added to `operators/joins.py:asof_join`
    — backward, forward, nearest (ties -> backward), and a
    1e14-ns tolerance on the backward arm — all from the union+window
    shape (nearest runs both orderings over ONE shuffle).  The oracle
    composes DuckDB's native ASOF LEFT JOIN both ways plus explicit
    delta CASEs — two independent formulations of all four answers."""
    from transcriptomics_data_integration_spark.operators.joins import asof_join

    ev = _events(spark, sf_dir)
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = ev.where(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    back = asof_join(
        clicks, views, ["user_id"], "ts", ["event_id"], "event_id"
    ).select("event_id", "user_id", "ts", F.col("event_id_asof").alias("back_view"))
    fwd = asof_join(
        clicks, views, ["user_id"], "ts", ["event_id"], "event_id",
        direction="forward",
    ).select("event_id", F.col("event_id_asof").alias("fwd_view"))
    near = asof_join(
        clicks, views, ["user_id"], "ts", ["event_id"], "event_id",
        direction="nearest",
    ).select("event_id", F.col("event_id_asof").alias("near_view"))
    btol = asof_join(
        clicks, views, ["user_id"], "ts", ["event_id"], "event_id",
        tolerance=100_000_000_000_000,
    ).select("event_id", F.col("event_id_asof").alias("back_view_tol"))
    return (
        back.join(fwd, "event_id")
        .join(near, "event_id")
        .join(btol, "event_id")
        .select(
            "event_id",
            "user_id",
            F.expr(f"ts div {_NS_PER_S}").alias("ts_sec"),
            "back_view",
            "fwd_view",
            "near_view",
            "back_view_tol",
        )
    )


ORACLE_ASOF_DIRECTIONS = """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), views AS (
  SELECT event_id AS view_event_id, user_id, ts FROM events
  WHERE event_type = 'view'
), b AS (
  SELECT c.event_id, c.user_id, c.ts,
         v.view_event_id AS back_view, v.ts AS bts
  FROM clicks c ASOF LEFT JOIN views v
    ON c.user_id = v.user_id AND v.ts <= c.ts
), f AS (
  SELECT c.event_id, v.view_event_id AS fwd_view, v.ts AS fts
  FROM clicks c ASOF LEFT JOIN views v
    ON c.user_id = v.user_id AND v.ts >= c.ts
)
SELECT b.event_id, b.user_id,
       CAST(epoch_ns(b.ts) // 1000000000 AS BIGINT) AS ts_sec,
       b.back_view, f.fwd_view,
       CASE WHEN f.fts IS NULL THEN b.back_view
            WHEN b.bts IS NULL THEN f.fwd_view
            WHEN epoch_ns(b.ts) - epoch_ns(b.bts)
                 <= epoch_ns(f.fts) - epoch_ns(b.ts) THEN b.back_view
            ELSE f.fwd_view END AS near_view,
       CASE WHEN epoch_ns(b.ts) - epoch_ns(b.bts) <= 100000000000000
            THEN b.back_view END AS back_view_tol
FROM b JOIN f USING (event_id)
"""

QUERIES_LLM["asof_directions"] = q_asof_directions
ORACLES_LLM["asof_directions"] = ORACLE_ASOF_DIRECTIONS

def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure of near-dup pairs: each clustered doc with
    its canonical representative (min doc_id reachable) and cluster
    size.  Edges come from the banded SimHash pairs (the scale path —
    pigeonhole-complete for hamming < n_bands) over the two-crawl
    corpus; Spark runs iterative min-label propagation with pointer
    jumping (`llmdata/dedup.py:connected_components`); the oracle is a
    DuckDB recursive CTE over the same pair SQL — two independent
    formulations of connectivity."""
    from transcriptomics_data_integration_spark.llmdata.dedup import (
        dedup_clusters,
        simhash_neardup_pairs,
    )

    docs = _two_crawls(_t(spark, sf_dir, "documents"))
    # star edges (r8): closure-identical, linear in dup-clique size
    pairs = simhash_neardup_pairs(docs, "doc_id", max_hamming=3, expand="star")
    return dedup_clusters(pairs.select("id_a", "id_b"))


ORACLE_DEDUP_CLUSTERS = """
WITH RECURSIVE crawls AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents
), toks AS (
  SELECT doc_id, UNNEST(string_split(trim(text), ' ')) AS token FROM crawls
), hashed AS (
  SELECT doc_id, ('0x' || substring(md5(token), 1, 15))::BIGINT AS h FROM toks
), bits AS (
  SELECT doc_id, bit, SUM(((h >> bit) & CAST(1 AS BIGINT)) * 2 - 1) AS s
  FROM hashed, (SELECT UNNEST(generate_series(0, 59)) AS bit)
  GROUP BY doc_id, bit
), sig AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
  FROM bits GROUP BY doc_id
), banded AS (
  SELECT doc_id, simhash, b.b AS band, (simhash >> (b.b * 15)) & 32767 AS key
  FROM sig, (SELECT UNNEST(generate_series(0, 3)) AS b) b
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
  FROM banded a JOIN banded b2
    ON a.band = b2.band AND a.key = b2.key AND a.doc_id < b2.doc_id
  WHERE bit_count(xor(a.simhash, b2.simhash)) <= 3
), edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
), reach(src, dst) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
), closure AS (
  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS canonical_id
  FROM reach GROUP BY src
)
SELECT doc_id, canonical_id,
       COUNT(*) OVER (PARTITION BY canonical_id) AS cluster_size
FROM closure
"""

QUERIES_LLM["dedup_clusters"] = q_dedup_clusters
ORACLES_LLM["dedup_clusters"] = ORACLE_DEDUP_CLUSTERS


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster survivor selection, HASH-GATED — the "which duplicate
    do you keep" step (`llmdata/dedup.py:keep_best_per_cluster`):
    SimHash near-dup pairs -> connected components -> keep the LONGEST
    member of each cluster (min-id tie-break), singletons survive as
    themselves.  Integer lengths/counts end-to-end: engine-exact.
    Oracle = the dedup_clusters recursive-CTE closure + an argmax
    window — two independent formulations of the whole pipeline."""
    from transcriptomics_data_integration_spark.llmdata.dedup import (
        dedup_clusters,
        keep_best_per_cluster,
        simhash_neardup_pairs,
    )

    docs = _two_crawls(_t(spark, sf_dir, "documents"))
    # star edges (r8): closure-identical, linear in dup-clique size
    pairs = simhash_neardup_pairs(docs, "doc_id", max_hamming=3, expand="star")
    clusters = dedup_clusters(pairs.select("id_a", "id_b"))
    return keep_best_per_cluster(
        docs, clusters, "doc_id", score=F.length("text").cast("long")
    )


def _oracle_dedup_keep_best() -> str:
    closure = ORACLE_DEDUP_CLUSTERS.strip().rstrip()
    # reuse the full dedup_clusters oracle as a subquery, then attach
    # the corpus and pick the argmax-length member per cluster
    return f"""
WITH closure_q AS (
{closure}
), crawls2 AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents
), joined AS (
  SELECT c.doc_id,
         CAST(length(c.text) AS BIGINT) AS _score,
         COALESCE(q.canonical_id, c.doc_id) AS cluster_key
  FROM crawls2 c LEFT JOIN closure_q q USING (doc_id)
)
SELECT cluster_key,
       doc_id AS kept_id,
       CAST(COUNT(*) OVER (PARTITION BY cluster_key) AS BIGINT) AS cluster_size,
       _score AS kept_score
FROM joined
QUALIFY ROW_NUMBER() OVER (
  PARTITION BY cluster_key ORDER BY _score DESC, doc_id ASC) = 1
"""


QUERIES_LLM["dedup_keep_best"] = q_dedup_keep_best
ORACLES_LLM["dedup_keep_best"] = _oracle_dedup_keep_best()


def q_winnow_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment evidence, HASH-GATED — detects when one
    document CONTAINS another (quotes, sub-document copies), which
    symmetric resemblance scores miss (Broder 1997 distinguishes
    containment |A∩B|/|A| from resemblance |A∩B|/|A∪B|).  Output per
    overlapping pair: shared-fingerprint count plus each side's
    distinct-fingerprint count — pure integers so the gate is bitwise;
    containment_a = n_shared/n_fp_a is a trivial ratio on top.  Reuses
    `winnow_fingerprints` (distinct fingerprint sets per doc).
    Ubiquitous fingerprints (> 20 docs) are dropped BEFORE pairing,
    exactly as in `winnow_overlap` — without that discipline common
    idioms make the pair space near-quadratic in corpus size (measured
    122k pairs from 500 docs); n_fp_* therefore counts each doc's
    MATCH-ELIGIBLE (rare) fingerprints, the consistent denominator."""
    from transcriptomics_data_integration_spark.llmdata.text import (
        winnow_fingerprints,
    )

    docs = _t(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par, "doc_id")
    fps = winnow_fingerprints(docs, "doc_id", k=5, window=4).select(
        "doc_id", "fingerprint"
    )
    w = Window.partitionBy("fingerprint")
    kept = (
        fps.withColumn("_nd", F.count(F.lit(1)).over(w))
        .where(F.col("_nd") <= 20)
        .select("doc_id", "fingerprint")
        .persist()
    )
    register_persisted(kept)
    sizes = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fp"))
    a = kept.select(F.col("doc_id").alias("id_a"), "fingerprint")
    b = kept.select(F.col("doc_id").alias("id_b"), "fingerprint")
    shared = (
        a.join(b, "fingerprint")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= 5)
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_fp").alias("n_fp_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_fp").alias("n_fp_b"))
    return shared.join(sa, "id_a").join(sb, "id_b").select(
        "id_a", "id_b", "n_shared", "n_fp_a", "n_fp_b"
    )


def _oracle_winnow_containment() -> str:
    # reuse the winnowing CTEs from ORACLE_WINNOW_OVERLAP through the
    # rare-fingerprint `kept` relation, then pair + attach sizes
    head = ORACLE_WINNOW_OVERLAP.split(")\nSELECT a.doc_id AS id_a")[0]
    return f"""{head}), sizes AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp FROM kept GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2
  HAVING COUNT(*) >= 5
)
SELECT s.id_a, s.id_b, s.n_shared,
       sa.n_fp AS n_fp_a, sb.n_fp AS n_fp_b
FROM shared s
JOIN sizes sa ON sa.doc_id = s.id_a
JOIN sizes sb ON sb.doc_id = s.id_b
"""


QUERIES_LLM["winnow_containment"] = q_winnow_containment
ORACLES_LLM["winnow_containment"] = _oracle_winnow_containment()


def q_domain_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplicate-content inventory, HASH-GATED — the
    curation report "which sources produce duplicated text": per
    `source`, total docs and docs whose exact content digest appears
    on more than one doc corpus-wide (cross-source duplicates count
    for every source involved).  One digest-keyed window + one
    source-keyed aggregate; integer counts end-to-end."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.md5(F.col("text").cast("binary")).alias("_d")
    )
    w = Window.partitionBy("_d")
    flagged = docs.withColumn(
        "_dup", (F.count(F.lit(1)).over(w) > 1).cast("int")
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_dup").alias("n_dup_docs"),
    )


ORACLE_DOMAIN_DUP_RATE = """
WITH digests AS (
  SELECT doc_id, source, md5(text) AS d FROM documents
), flagged AS (
  SELECT source,
         CASE WHEN COUNT(*) OVER (PARTITION BY d) > 1 THEN 1 ELSE 0 END AS dup
  FROM digests
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(dup) AS BIGINT) AS n_dup_docs
FROM flagged
GROUP BY source
"""

QUERIES_LLM["domain_dup_rate"] = q_domain_dup_rate
ORACLES_LLM["domain_dup_rate"] = ORACLE_DOMAIN_DUP_RATE


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language top-20 vocabulary over the documents corpus:
    explode tokens -> (lang, token) count -> per-lang rank window with
    deterministic tie-break.  The rank window runs on the aggregate
    (one row per distinct token), never the raw corpus."""
    from transcriptomics_data_integration_spark.llmdata.text import vocab_topk

    return vocab_topk(_t(spark, sf_dir, "documents"), "lang", "text", k=20)


ORACLE_VOCAB_TOPK = """
WITH toks AS (
  SELECT lang, UNNEST(string_split_regex(lower(text), '[^a-z0-9]+')) AS token
  FROM documents
), counts AS (
  SELECT lang, token, COUNT(*) AS n
  FROM toks WHERE token <> '' GROUP BY lang, token
), ranked AS (
  SELECT lang, token, n,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, token ASC) AS rank
  FROM counts
)
SELECT lang, token, n, CAST(rank AS INTEGER) AS rank FROM ranked WHERE rank <= 20
"""

QUERIES_LLM["vocab_topk"] = q_vocab_topk
ORACLES_LLM["vocab_topk"] = ORACLE_VOCAB_TOPK


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 symmetric quantization of the embedding column with its
    reconstruction-error report — the 4x-storage scale path for vector
    corpora.  max_err <= scale/2 by construction; all arithmetic is
    plain double SQL, reproduced exactly by the DuckDB oracle."""
    from transcriptomics_data_integration_spark.llmdata.similarity import (
        quantization_error,
    )

    emb = _t(spark, sf_dir, "embeddings")
    out = quantization_error(emb)
    return out.select(
        "vec_id",
        F.round("scale", 9).alias("scale"),
        F.round("max_err", 9).alias("max_err"),
        F.round("mse", 12).alias("mse"),
    )


ORACLE_EMBEDDING_QUANTIZE = """
WITH q AS (
  SELECT vec_id, embedding,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))),
           (acc, v) -> greatest(acc, v)) / 127.0 AS scale
  FROM embeddings
), coded AS (
  SELECT vec_id, embedding, scale,
         CASE WHEN scale > 0
              THEN list_transform(embedding,
                     v -> CAST(round(CAST(v AS DOUBLE) / scale) AS INTEGER))
              ELSE list_transform(embedding, v -> 0) END AS codes
  FROM q
), errs AS (
  SELECT vec_id, scale,
         list_zip(embedding, codes) AS vz
  FROM coded
)
SELECT vec_id,
       ROUND(scale, 9) AS scale,
       ROUND(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         list_transform(vz, p -> abs(CAST(p[1] AS DOUBLE) - p[2] * scale))),
         (acc, e) -> greatest(acc, e)), 9) AS max_err,
       ROUND(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         list_transform(vz, p -> (CAST(p[1] AS DOUBLE) - p[2] * scale)
                                 * (CAST(p[1] AS DOUBLE) - p[2] * scale))),
         (acc, e) -> acc + e) / len(vz), 12) AS mse
FROM errs
"""

QUERIES_LLM["embedding_quantize"] = q_embedding_quantize
ORACLES_LLM["embedding_quantize"] = ORACLE_EMBEDDING_QUANTIZE


def q_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus sampling: a 20% Bernoulli hash-sample of the
    documents plus an exactly-5-per-language stratified sample, tagged
    and unioned.  Membership is a pure function of doc_id (md5-keyed),
    so the sample is identical across engines, retries, and partitionings
    — the reproducibility contract rand() sampling can't give."""
    from transcriptomics_data_integration_spark.llmdata.sampling import (
        hash_sample,
        stratified_sample_exact,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    bern = hash_sample(docs, "doc_id", 0.2).withColumn("method", F.lit("bernoulli"))
    strat = stratified_sample_exact(docs, "lang", "doc_id", 5).withColumn(
        "method", F.lit("stratified")
    )
    return bern.unionByName(strat).select("method", "doc_id", "lang")


ORACLE_DOC_SAMPLE = """
WITH hashed AS (
  SELECT doc_id, lang,
         ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM documents
), bern AS (
  SELECT 'bernoulli' AS method, doc_id, lang FROM hashed
  WHERE h < CAST(0.2 * 1152921504606846976 AS BIGINT)
), strat AS (
  SELECT 'stratified' AS method, doc_id, lang FROM (
    SELECT doc_id, lang,
           ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h ASC, doc_id ASC) AS rn
    FROM hashed
  ) WHERE rn <= 5
)
SELECT * FROM bern UNION ALL SELECT * FROM strat
"""

QUERIES_LLM["doc_sample"] = q_doc_sample
ORACLES_LLM["doc_sample"] = ORACLE_DOC_SAMPLE


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing of the documents corpus into 2048-token
    training sequences (token proxy: n_chars).  One row per
    (doc, sequence) overlap; prefix-sum placement + sequence-id
    explode, reproduced exactly by the oracle's window SQL."""
    from transcriptomics_data_integration_spark.llmdata.sampling import pack_sequences

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return pack_sequences(docs, "doc_id", "n_chars", 2048)


ORACLE_PACK_SEQUENCES = """
WITH placed AS (
  SELECT doc_id, n_chars,
         CAST(COALESCE(SUM(n_chars) OVER (
           ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS s
  FROM documents WHERE n_chars > 0
), spanned AS (
  SELECT doc_id, s, s + n_chars AS e,
         UNNEST(generate_series(CAST(s // 2048 AS BIGINT), CAST((s + n_chars - 1) // 2048 AS BIGINT))) AS seq_id
  FROM placed
)
SELECT doc_id, seq_id,
       GREATEST(s, seq_id * 2048) - s AS doc_offset,
       GREATEST(s, seq_id * 2048) - seq_id * 2048 AS seq_offset,
       LEAST(e, (seq_id + 1) * 2048) - GREATEST(s, seq_id * 2048) AS n_tokens
FROM spanned
"""

QUERIES_LLM["pack_sequences"] = q_pack_sequences
ORACLES_LLM["pack_sequences"] = ORACLE_PACK_SEQUENCES


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination screen: training docs (doc_id % 97 != 0) scored
    by 5-gram overlap against the held-out eval slice (doc_id % 97 == 0).
    Eval shingle inventory broadcasts; the corpus side never shuffles
    before the per-doc aggregate."""
    from transcriptomics_data_integration_spark.llmdata.text import contamination_check

    docs = _t(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par)  # one-split fan-out (r7 finding)
    train = docs.where(F.col("doc_id") % 97 != 0)
    eval_docs = docs.where(F.col("doc_id") % 97 == 0)
    return contamination_check(train, eval_docs)


ORACLE_CONTAMINATION = f"""
WITH tr AS (
  SELECT doc_id, UNNEST({_SHINGLE_SQL}) AS shingle
  FROM documents WHERE doc_id % 97 <> 0
), ev AS (
  SELECT DISTINCT doc_id AS eval_id, UNNEST({_SHINGLE_SQL}) AS shingle
  FROM documents WHERE doc_id % 97 = 0
)
SELECT tr.doc_id,
       COUNT(DISTINCT tr.shingle) AS n_shared,
       COUNT(DISTINCT ev.eval_id) AS n_eval_docs
FROM tr JOIN ev ON tr.shingle = ev.shingle
GROUP BY tr.doc_id
"""

QUERIES_LLM["contamination"] = q_contamination
ORACLES_LLM["contamination"] = ORACLE_CONTAMINATION


def q_bloom_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter contamination screen, HASH-GATED (r7): the 100 TB
    two-phase shape of `contamination` — broadcast the eval corpus's
    md5-position BIT SET (3 hashes into 2^17 bits) instead of its
    full shingle inventory, flag training shingles whose positions
    are all set, then resolve the survivors exactly
    (`llmdata/text.py:bloom_contamination`).  The positions are pure
    md5 functions of the shingle, so the oracle replays the entire
    screen — including the false-positive count, which PROVES the
    Bloom semantics rather than just the exact-join result."""
    from transcriptomics_data_integration_spark.llmdata.text import (
        bloom_contamination,
    )

    docs = _t(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 97 != 0)
    eval_docs = docs.where(F.col("doc_id") % 97 == 0)
    out = bloom_contamination(train, eval_docs, k=5, n_hashes=3, m_bits=1 << 17)
    return out.select("doc_id", "n_maybe", "n_exact", "n_false_pos")


_BLOOM_POS_SQL = (
    "[('0x' || substring(md5('bloom0#' || shingle), 1, 15))::BIGINT % 131072, "
    " ('0x' || substring(md5('bloom1#' || shingle), 1, 15))::BIGINT % 131072, "
    " ('0x' || substring(md5('bloom2#' || shingle), 1, 15))::BIGINT % 131072]"
)

ORACLE_BLOOM_CONTAMINATION = f"""
WITH tr AS (
  SELECT DISTINCT doc_id, UNNEST({_SHINGLE_SQL}) AS shingle
  FROM documents WHERE doc_id % 97 <> 0
), ev AS (
  SELECT DISTINCT UNNEST({_SHINGLE_SQL}) AS shingle
  FROM documents WHERE doc_id % 97 = 0
), bitset AS (
  SELECT DISTINCT UNNEST({_BLOOM_POS_SQL}) AS pos FROM ev
), maybe AS (
  SELECT doc_id, shingle
  FROM (
    SELECT doc_id, shingle, UNNEST({_BLOOM_POS_SQL}) AS pos FROM tr
  ) tp JOIN bitset USING (pos)
  GROUP BY doc_id, shingle
  HAVING COUNT(*) = 3
)
SELECT m.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_maybe,
       CAST(SUM(CASE WHEN m.shingle IN (SELECT shingle FROM ev)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       CAST(COUNT(*) - SUM(CASE WHEN m.shingle IN (SELECT shingle FROM ev)
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos
FROM maybe m
GROUP BY m.doc_id
"""

QUERIES_LLM["bloom_contamination"] = q_bloom_contamination
ORACLES_LLM["bloom_contamination"] = ORACLE_BLOOM_CONTAMINATION


def q_language_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram-profile language ID (Cavnar-Trenkle-style
    presence scoring) over the documents corpus, aggregated to
    per-language counts — the n-gram companion to the stopword-marker
    `language_id`."""
    from transcriptomics_data_integration_spark.llmdata.text import language_id_ngram

    docs = _t(spark, sf_dir, "documents")
    out = language_id_ngram(docs)
    return out.groupBy("lang_pred").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("score").alias("total_score")
    )


ORACLE_LANGUAGE_ID_NGRAM = """
WITH profiles(lang_cand, shingle) AS (
  VALUES ('en','the'),('en','he '),('en',' th'),('en','ing'),('en','and'),
         ('en','ion'),('en',' of'),
         ('fr','les'),('fr',' le'),('fr','de '),('fr','ent'),('fr','que'),
         ('fr',' de'),('fr','ais'),
         ('de','der'),('de','die'),('de','und'),('de','sch'),('de','ein'),
         ('de','ich'),('de','cht')
), tri AS (
  SELECT doc_id,
         UNNEST(list_distinct(list_transform(
           generate_series(1, greatest(length(text) - 2, 1)),
           i -> substr(lower(text), i, 3)))) AS shingle
  FROM documents
), scores AS (
  SELECT doc_id, lang_cand, COUNT(*) AS score
  FROM tri JOIN profiles USING (shingle)
  GROUP BY doc_id, lang_cand
), best AS (
  SELECT doc_id, lang_cand AS lang_pred, score FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY doc_id ORDER BY score DESC, lang_cand ASC) AS rn
    FROM scores
  ) WHERE rn = 1
), labelled AS (
  SELECT d.doc_id, COALESCE(b.lang_pred, 'und') AS lang_pred,
         COALESCE(b.score, 0) AS score
  FROM documents d LEFT JOIN best b USING (doc_id)
)
SELECT lang_pred, COUNT(*) AS n_docs, CAST(SUM(score) AS BIGINT) AS total_score
FROM labelled GROUP BY lang_pred
"""

QUERIES_LLM["language_id_ngram"] = q_language_id_ngram
ORACLES_LLM["language_id_ngram"] = ORACLE_LANGUAGE_ID_NGRAM


def q_vocab_size_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-token vocabulary size per language, exact
    (count_distinct) side-by-side with the HLL++ sketch
    (approx_count_distinct, 1% rsd) — the mergeable-sketch path that
    replaces the exact distinct's full shuffle at corpus scale.  Sketch
    estimates are engine-specific: rows-only contract entry; the unit
    test bounds the estimate against the exact count.
    """
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "lang",
        F.explode(F.split(F.lower(F.col("text")), "[^a-z0-9]+")).alias("token"),
    ).where(F.col("token") != "")
    return toks.groupBy("lang").agg(
        F.countDistinct("token").alias("vocab_exact"),
        F.approx_count_distinct("token", 0.01).alias("vocab_hll"),
    )


QUERIES_LLM["vocab_size_sketch"] = q_vocab_size_sketch


def q_rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling one-hour window over event time (RANGE frame on
    nanosecond longs): for each event, the count and decimal-exact sum
    of values in the preceding hour including itself.  The
    time-RANGE-frame member of the window family — unlike ROWS frames
    the boundary is a value offset, so ties and gaps are handled by
    event time, not row position."""
    ev = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rangeBetween(-_NS_PER_H + 1, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.expr(f"ts div {_NS_PER_S}").alias("ts_sec"),
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double").alias("sum_1h"),
    )


ORACLE_ROLLING_STATS = """
SELECT event_id, user_id,
       CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS ts_sec,
       COUNT(*) OVER w AS n_1h,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_1h
FROM events
WINDOW w AS (
  PARTITION BY user_id ORDER BY epoch_ns(ts)
  RANGE BETWEEN 3599999999999 PRECEDING AND CURRENT ROW
)
"""

QUERIES_LLM["rolling_stats"] = q_rolling_stats
ORACLES_LLM["rolling_stats"] = ORACLE_ROLLING_STATS


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite Gopher-style keep/drop verdicts over the corpus,
    aggregated to rule-level failure counts plus the kept-document
    count — the decision layer over `text_quality`'s signals."""
    from transcriptomics_data_integration_spark.llmdata.text import quality_filter

    out = quality_filter(_t(spark, sf_dir, "documents"))
    return out.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("keep").cast("int")).alias("n_kept"),
        F.sum(F.col("fail_word_count").cast("int")).alias("n_fail_word_count"),
        F.sum(F.col("fail_word_len").cast("int")).alias("n_fail_word_len"),
        F.sum(F.col("fail_symbol_ratio").cast("int")).alias("n_fail_symbol_ratio"),
        F.sum(F.col("fail_no_stopwords").cast("int")).alias("n_fail_no_stopwords"),
    )


ORACLE_QUALITY_FILTER = r"""
WITH s AS (
  SELECT doc_id,
         len(string_split(trim(text), ' ')) AS n_tokens,
         length(text) AS n_chars,
         len(list_filter(string_split(trim(text), ' '),
             t -> t IN ('the', 'and', 'of', 'a', 'to'))) AS stop_hits,
         length(text) - length(regexp_replace(text, '[\.,;:!\?]', '', 'g')) AS n_punct
  FROM documents
), m AS (
  SELECT doc_id, n_tokens,
         (n_chars - (n_tokens - 1)) / n_tokens AS mean_token_len,
         stop_hits / n_tokens AS stopword_ratio,
         n_punct / n_chars AS punct_ratio
  FROM s
), flags AS (
  SELECT doc_id,
         NOT (n_tokens BETWEEN 3 AND 100000) AS fail_word_count,
         NOT (mean_token_len BETWEEN 2.0 AND 12.0) AS fail_word_len,
         punct_ratio > 0.3 AS fail_symbol_ratio,
         stopword_ratio <= 0.0 AS fail_no_stopwords
  FROM m
)
SELECT COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN NOT fail_word_count AND NOT fail_word_len
                 AND NOT fail_symbol_ratio AND NOT fail_no_stopwords
                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN fail_word_count THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_word_count,
       CAST(SUM(CASE WHEN fail_word_len THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_word_len,
       CAST(SUM(CASE WHEN fail_symbol_ratio THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_symbol_ratio,
       CAST(SUM(CASE WHEN fail_no_stopwords THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_no_stopwords
FROM flags
"""

QUERIES_LLM["quality_filter"] = q_quality_filter
ORACLES_LLM["quality_filter"] = ORACLE_QUALITY_FILTER


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL Gopher rule battery (Rae et al. 2021 Table A1), per
    doc, HASH-GATED: the four line/word-shape rules
    (`llmdata/text.py:gopher_quality` — bullet-start line fraction,
    ellipsis-end line fraction, alphabetic-word fraction,
    symbol-to-word ratio) on top of quality_filter's word-count /
    word-length / punctuation / stopword rules, with the composite
    keep.  Every ratio is an exact integer-derived IEEE division, so
    the per-doc doubles hash-match DuckDB bit-for-bit.  Pure map-side
    codegen — zero shuffles at any corpus size."""
    from transcriptomics_data_integration_spark.llmdata.text import gopher_quality

    docs = _t(spark, sf_dir, "documents")
    return gopher_quality(docs).select(
        "doc_id", "n_tokens",
        "bullet_frac", "ellipsis_frac", "alpha_frac", "symbol_word_ratio",
        "fail_bullets", "fail_ellipsis", "fail_alpha", "fail_symbols",
        "keep",
    )


ORACLE_GOPHER_QUALITY = r"""
WITH s AS (
  SELECT doc_id, text,
         len(string_split(trim(text), ' ')) AS n_tokens,
         length(text) AS n_chars,
         len(list_filter(string_split(trim(text), ' '),
             t -> t IN ('the', 'and', 'of', 'a', 'to'))) AS stop_hits,
         length(text) - length(regexp_replace(text, '[\.,;:!\?]', '', 'g')) AS n_punct,
         string_split(text, chr(10)) AS lines,
         len(list_filter(string_split(trim(text), ' '),
             t -> regexp_matches(t, '[A-Za-z]'))) AS n_alpha,
         length(text) - length(replace(text, '#', '')) AS n_hash,
         (length(text) - length(regexp_replace(text, '\.\.\.', '', 'g'))) / 3 AS n_ell
  FROM documents
), m AS (
  SELECT doc_id, n_tokens,
         (n_chars - (n_tokens - 1)) / n_tokens AS mean_token_len,
         stop_hits / n_tokens AS stopword_ratio,
         n_punct / n_chars AS punct_ratio,
         len(list_filter(lines,
             l -> substr(ltrim(l), 1, 1) IN ('-', '*', '•'))) / len(lines)
           AS bullet_frac,
         len(list_filter(lines,
             l -> rtrim(l) LIKE '%...' OR rtrim(l) LIKE '%…')) / len(lines)
           AS ellipsis_frac,
         n_alpha / n_tokens AS alpha_frac,
         (n_hash + n_ell) / n_tokens AS symbol_word_ratio
  FROM s
)
SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
       bullet_frac, ellipsis_frac, alpha_frac, symbol_word_ratio,
       COALESCE(bullet_frac > 0.9, TRUE) AS fail_bullets,
       COALESCE(ellipsis_frac > 0.3, TRUE) AS fail_ellipsis,
       COALESCE(alpha_frac < 0.8, TRUE) AS fail_alpha,
       COALESCE(symbol_word_ratio > 0.1, TRUE) AS fail_symbols,
       ((n_tokens BETWEEN 3 AND 100000)
        AND (mean_token_len BETWEEN 2.0 AND 12.0)
        AND punct_ratio <= 0.3 AND stopword_ratio > 0.0
        AND NOT COALESCE(bullet_frac > 0.9, TRUE)
        AND NOT COALESCE(ellipsis_frac > 0.3, TRUE)
        AND NOT COALESCE(alpha_frac < 0.8, TRUE)
        AND NOT COALESCE(symbol_word_ratio > 0.1, TRUE)) AS keep
FROM m
"""

QUERIES_LLM["gopher_quality"] = q_gopher_quality
ORACLES_LLM["gopher_quality"] = ORACLE_GOPHER_QUALITY


def q_web_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-corpus construction end-to-end, HASH-GATED (r7): the
    composition of this round's new stages over the train split
    (doc_id % 97 != 0) —

    1. in-plan HTML wrap -> REAL `html_extract` (stdlib parser);
    2. full Gopher battery on the EXTRACTED text -> keep;
    3. Bloom decontamination screen vs the eval slice (% 97 == 0) on
       the raw text; drop docs sharing > 150 exact shingles;
    4. temperature mixture (150 docs, alpha = 0.5) over survivors;
    5. deterministic global shuffle for training order.

    Every stage is an already-gated kernel; the composition proves
    they hand off (column contracts, key alignment, bucketed rank
    after joins).  The oracle replays all five stages in one CTE
    chain — the HTML stage from the text formula (never parsing
    HTML), the Bloom stage via the equivalent exact-overlap count
    (every exact hit survives the screen by construction)."""
    from transcriptomics_data_integration_spark.llmdata.sampling import (
        global_shuffle,
        temperature_sample,
    )
    from transcriptomics_data_integration_spark.llmdata.text import (
        bloom_contamination,
        gopher_quality,
        html_extract,
    )

    docs = _t(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 97 != 0)
    eval_docs = docs.where(F.col("doc_id") % 97 == 0)
    html = train.select(
        "doc_id",
        F.concat(
            F.lit(
                '<html><head><title>t</title><script>var x = "drop&amp;me";'
                "</script><style>p { color: red }</style></head><body><h1>Doc "
            ),
            F.col("doc_id").cast("string"),
            F.lit("</h1><p>"),
            F.col("text"),
            F.lit("</p><div>tail &amp; &#65;&#x42;  end</div></body></html>"),
        ).alias("html"),
    )
    html = html.repartition(spark.sparkContext.defaultParallelism)
    ext = html_extract(html, "doc_id", "html").join(
        train.select("doc_id", "source"), "doc_id"
    )
    # the HTML parse + Gopher battery re-executes per consumer unless
    # materialized (Spark shares no un-persisted subtrees): `kept`
    # feeds the screen's train side AND the clean join, and `clean`
    # feeds temperature's count dim AND its rank join — persisting the
    # two bounded post-filter relations collapses the plan from 80
    # source scans to the minimal set (the corpus_pipeline discipline)
    kept = (
        gopher_quality(ext)
        .where(F.col("keep"))
        .select("doc_id", "source", "n_tokens")
        .persist()
    )
    register_persisted(kept)
    raw_kept = train.select("doc_id", "text").join(
        kept.select("doc_id"), "doc_id"
    )
    screened = bloom_contamination(raw_kept, eval_docs)
    # lineage-CUT, not just cache: consuming a persisted relation whose
    # analyzed plan still carries the whole html->gopher->bloom tree
    # costs tens of seconds of per-action replanning at scale (probe:
    # mixture stage 81 -> 4 s after the cut; PLANS.md round-7 findings)
    clean = (
        kept.join(screened.select("doc_id", "n_exact"), "doc_id", "left")
        .where(F.coalesce(F.col("n_exact"), F.lit(0)) <= 150)
        .drop("n_exact")
        .localCheckpoint(eager=True)
    )
    sampled = temperature_sample(clean, "source", "doc_id", total_docs=150, alpha=0.5)
    return global_shuffle(sampled, "doc_id").select(
        "doc_id", "source", "n_tokens", "k_target", "rk", "shuffle_pos"
    )


_WEB_EXT_SQL = r"""
  SELECT doc_id, source,
         'Doc ' || CAST(doc_id AS VARCHAR) || chr(10) ||
         trim(regexp_replace(text, '[ \t]+', ' ', 'g')) || chr(10) ||
         'tail & AB end' AS text
  FROM documents WHERE doc_id % 97 <> 0
"""

# the gopher battery verbatim, re-rooted at the extracted-text relation
_WEB_GQ_SQL = ORACLE_GOPHER_QUALITY.replace(
    "FROM documents", f"FROM ({_WEB_EXT_SQL}) documents"
)
assert _WEB_GQ_SQL != ORACLE_GOPHER_QUALITY

ORACLE_WEB_PIPELINE = f"""
WITH gq AS (
  SELECT * FROM ({_WEB_GQ_SQL}) q
), kept AS (
  SELECT g.doc_id, d.source, g.n_tokens
  FROM gq g JOIN documents d USING (doc_id)
  WHERE g.keep
), tr AS (
  SELECT DISTINCT d.doc_id, UNNEST({_SHINGLE_SQL}) AS shingle
  FROM documents d JOIN kept k ON d.doc_id = k.doc_id
), ev AS (
  SELECT DISTINCT UNNEST({_SHINGLE_SQL}) AS shingle
  FROM documents WHERE doc_id % 97 = 0
), cont AS (
  SELECT doc_id, COUNT(*) AS n_exact
  FROM tr WHERE shingle IN (SELECT shingle FROM ev)
  GROUP BY doc_id
), clean AS (
  SELECT k.doc_id, k.source, k.n_tokens
  FROM kept k LEFT JOIN cont c USING (doc_id)
  WHERE COALESCE(c.n_exact, 0) <= 150
), counts AS (
  SELECT source, COUNT(*) AS n FROM clean GROUP BY source
), dim AS (
  SELECT source,
         CAST(FLOOR(POWER(CAST(n AS DOUBLE), 0.5) * 1000000.0 + 0.5) AS BIGINT) AS w
  FROM counts
), alloc0 AS (
  SELECT source,
         (150 * w) // (SELECT SUM(w) FROM dim) AS k0,
         (150 * w) %  (SELECT SUM(w) FROM dim) AS rem
  FROM dim
), alloc AS (
  SELECT source,
         k0 + CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, source ASC)
                        <= 150 - (SELECT SUM(k0) FROM alloc0)
                   THEN 1 ELSE 0 END AS k_target
  FROM alloc0
), ranked AS (
  SELECT c.doc_id, c.source, c.n_tokens, a.k_target,
         ROW_NUMBER() OVER (
           PARTITION BY c.source
           ORDER BY ('0x' || substring(md5(CAST(c.doc_id AS VARCHAR)), 1, 15))::BIGINT,
                    c.doc_id
         ) AS rk
  FROM clean c JOIN alloc a USING (source)
), sampled AS (
  SELECT * FROM ranked WHERE rk <= k_target
)
SELECT doc_id, source, n_tokens,
       CAST(k_target AS BIGINT) AS k_target, CAST(rk AS BIGINT) AS rk,
       CAST(ROW_NUMBER() OVER (
         ORDER BY ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
                  doc_id
       ) - 1 AS BIGINT) AS shuffle_pos
FROM sampled
"""

QUERIES_LLM["web_pipeline"] = q_web_pipeline
ORACLES_LLM["web_pipeline"] = ORACLE_WEB_PIPELINE


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixture rebalancing: downsample per-source toward target
    shares (web .5 / books .3 / code .2 over the documents sources),
    deterministic hash membership, rates computed in-plan.  Output:
    kept-count per source."""
    from transcriptomics_data_integration_spark.llmdata.sampling import mixture_sample

    docs = _t(spark, sf_dir, "documents")
    srcs = [r["source"] for r in docs.select("source").distinct().collect()]
    srcs.sort()
    fracs = {s: w for s, w in zip(srcs, [0.5, 0.3, 0.2] + [0.0] * 10)}
    out = mixture_sample(docs, "source", "doc_id", fracs)
    return out.groupBy("source").agg(F.count(F.lit(1)).alias("n_kept"))


def _mixture_oracle() -> str:
    return """
WITH counts AS (
  SELECT source, COUNT(*) AS n FROM documents GROUP BY source
), ranked AS (
  SELECT source, n, ROW_NUMBER() OVER (ORDER BY source) AS rn FROM counts
), tot AS (
  SELECT SUM(n) AS total FROM counts
), rates AS (
  SELECT source,
         LEAST(1.0, (CASE rn WHEN 1 THEN 0.5 WHEN 2 THEN 0.3 WHEN 3 THEN 0.2
                     ELSE 0.0 END) * tot.total / n) AS rate
  FROM ranked, tot
)
SELECT d.source, COUNT(*) AS n_kept
FROM documents d JOIN rates r USING (source)
WHERE CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT AS DOUBLE)
      < r.rate * 1152921504606846976.0
GROUP BY d.source
"""


QUERIES_LLM["mixture_sample"] = q_mixture_sample
ORACLES_LLM["mixture_sample"] = _mixture_oracle()


def q_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture construction, HASH-GATED (r6): per source
    keep docs in md5-priority order until the source's TOKEN budget is
    spent (`llmdata/sampling.py:token_budget_sample`) — absolute token
    volumes, the unit LM training plans are written in, vs
    mixture_sample's row proportions.  One cumulative window per
    source; integer token counts and sums, md5 priority — replayed
    verbatim by the oracle."""
    from transcriptomics_data_integration_spark.llmdata.sampling import (
        token_budget_sample,
    )

    docs = _t(spark, sf_dir, "documents")
    return token_budget_sample(
        docs,
        "source",
        "doc_id",
        budgets={"src1": 900, "src2": 450, "src3": 0},
        default_budget=300,
    )


def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL HTML -> text extraction, HASH-GATED (r7): per doc an
    in-plan HTML page wraps the doc text with head/script/style
    boilerplate, block headings, and character/numeric entities
    (&amp; &#65; &#x42;); the stdlib-state-machine extractor
    (`llmdata/text.py:html_extract`) must drop the script/style
    content, decode entities, convert block tags to line boundaries,
    and collapse whitespace.  The oracle rebuilds the expected text
    from the doc text alone — it never sees HTML — so a hash match
    proves the parse + entity decode + boilerplate drop end-to-end."""
    from transcriptomics_data_integration_spark.llmdata.text import html_extract

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit(
                '<html><head><title>t</title><script>var x = "drop&amp;me";'
                "</script><style>p { color: red }</style></head><body><h1>Doc "
            ),
            F.col("doc_id").cast("string"),
            F.lit("</h1><p>"),
            F.col("text"),
            F.lit("</p><div>tail &amp; &#65;&#x42;  end</div></body></html>"),
        ).alias("html"),
    )
    # one-split parquet -> parallelize the per-doc parse (r7 finding)
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    return html_extract(docs, "doc_id", "html")


ORACLE_HTML_EXTRACT = """
SELECT doc_id,
       'Doc ' || CAST(doc_id AS VARCHAR) || chr(10) ||
       trim(regexp_replace(text, '[ \t]+', ' ', 'g')) || chr(10) ||
       'tail & AB end' AS text,
       CAST(9 AS INTEGER) AS n_tags,
       CAST(3 AS INTEGER) AS n_dropped_blocks
FROM documents
"""

QUERIES_LLM["html_extract"] = q_html_extract
ORACLES_LLM["html_extract"] = ORACLE_HTML_EXTRACT


# compression_ratio (zlib level-6) left the driver window in r9: it was
# the one permanently-`no_oracle` row a rotation could never stamp (full
# DEFLATE's match heuristics are not SQL-expressible).  Its signal is
# now split: the engine-exact subset (run redundancy, fixed-Huffman
# distance-1 DEFLATE arithmetic) is the ORACLED `rle_deflate` gate
# below; the zlib kernel (`llmdata/text.py:compression_ratio`) remains
# a library function whose determinism and repetitive-vs-prose-vs-noise
# band structure stay pinned by
# `test_llmdata.py::test_compression_ratio_separates_repetition_from_prose`.


def q_rle_deflate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEFLATE-subset compressed size, HASH-GATED (r9,
    `llmdata/text.py:rle_deflate_size`): the exact zlib-stream byte
    count of a one-block fixed-Huffman encoding restricted to
    distance-1 matches — maximal-run parse + RFC 1951 bit tables, so
    the whole "compression" is integer arithmetic.  The engine runs
    one aggregate() fold per doc (no char explode, no shuffle); the
    oracle recomputes runs relationally (gaps-and-islands) and reuses
    the same generated bit-cost CASE, so a hash match proves the run
    decomposition, both Huffman tables, the greedy 258-chunking, and
    the stream framing."""
    from transcriptomics_data_integration_spark.llmdata.text import (
        rle_deflate_size,
    )

    # plant run-redundancy arms so the gate exercises every cost path:
    # doc_id%4==0 gets a 300-char pad run (multi-chunk matches),
    # %4==1 a short 5-char run (single small match), %4==2 a 2-char
    # run (remainder literals), %4==3 prose as-is
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "CASE WHEN doc_id % 4 = 0 THEN concat(text, repeat('x', 300)) "
            "WHEN doc_id % 4 = 1 THEN concat(text, repeat('=', 5)) "
            "WHEN doc_id % 4 = 2 THEN concat('zz', text) "
            "ELSE text END"
        ).alias("text"),
    )
    return rle_deflate_size(docs, "doc_id")


def _oracle_rle_deflate() -> str:
    from transcriptomics_data_integration_spark.llmdata.text import _rle_run_bits

    run_bits = _rle_run_bits("c", "n", intdiv="//")
    return f"""
WITH planted AS (
  SELECT doc_id,
         CASE WHEN doc_id % 4 = 0 THEN text || repeat('x', 300)
              WHEN doc_id % 4 = 1 THEN text || repeat('=', 5)
              WHEN doc_id % 4 = 2 THEN 'zz' || text
              ELSE text END AS text
  FROM documents
), chars AS (
  SELECT doc_id, i, substr(text, CAST(i AS INTEGER), 1) AS c
  FROM planted, unnest(generate_series(1, length(text))) AS t(i)
), grouped AS (
  SELECT doc_id, c,
         i - ROW_NUMBER() OVER (PARTITION BY doc_id, c ORDER BY i) AS grp
  FROM chars
), runs AS (
  SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS n
  FROM grouped GROUP BY doc_id, c, grp
), per_doc AS (
  SELECT doc_id, CAST(SUM({run_bits}) AS BIGINT) AS sym
  FROM runs GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(length(d.text) AS INTEGER) AS n_chars,
       CAST(COALESCE(p.sym, 0) + 10 AS BIGINT) AS rle_bits,
       CAST(6 + (COALESCE(p.sym, 0) + 17) // 8 AS BIGINT) AS rle_bytes,
       CASE WHEN length(d.text) > 0 THEN
         ROUND((6 + (COALESCE(p.sym, 0) + 17) // 8) / length(d.text), 6)
       END AS rle_ratio
FROM planted d LEFT JOIN per_doc p USING (doc_id)
"""


QUERIES_LLM["rle_deflate"] = q_rle_deflate
ORACLES_LLM["rle_deflate"] = _oracle_rle_deflate()


def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM quality scoring, HASH-GATED (r7): the
    corpus-fit p(w2|w1) = 0.8*c12/c1 + 0.2*c2/N model scored as the
    per-doc mean bigram log-probability
    (`llmdata/text.py:bigram_logprob`) — catches plausible-words-in-
    implausible-order gibberish that the unigram `doc_logprob`
    cannot.  ln() rounds to 6 dp per repo FP policy; the oracle
    re-fits and re-applies the identical model in SQL."""
    from transcriptomics_data_integration_spark.llmdata.text import bigram_logprob

    docs = _t(spark, sf_dir, "documents")
    out = bigram_logprob(docs, "doc_id", lam=0.8)
    return out.select(
        "doc_id",
        "n_bigrams",
        F.round("mean_bigram_logprob", 6).alias("mean_bigram_logprob"),
    )


ORACLE_BIGRAM_LOGPROB = """
WITH docs_t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM documents
), tokens AS (
  SELECT doc_id, UNNEST(toks) AS token FROM docs_t
), bigrams AS (
  SELECT doc_id, UNNEST(
    CASE WHEN len(toks) < 2 THEN []
         ELSE list_transform(generate_series(1, len(toks) - 1),
                             i -> toks[i] || ' ' || toks[i + 1]) END
  ) AS bigram FROM docs_t
), uni AS (
  SELECT token, COUNT(*) AS c FROM tokens GROUP BY token
), total AS (
  SELECT CAST(SUM(c) AS BIGINT) AS N FROM uni
), bi AS (
  SELECT bigram, COUNT(*) AS c12 FROM bigrams GROUP BY bigram
), model AS (
  SELECT b.bigram,
         ln(0.8 * b.c12 / u1.c + 0.19999999999999996 * u2.c / t.N) AS lp
  FROM bi b
  JOIN uni u1 ON u1.token = string_split(b.bigram, ' ')[1]
  JOIN uni u2 ON u2.token = string_split(b.bigram, ' ')[2]
  CROSS JOIN total t
)
SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(SUM(m.lp) / COUNT(*), 6) AS mean_bigram_logprob
FROM bigrams g JOIN model m USING (bigram)
GROUP BY g.doc_id
"""

QUERIES_LLM["bigram_logprob"] = q_bigram_logprob
ORACLES_LLM["bigram_logprob"] = ORACLE_BIGRAM_LOGPROB


def q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt compliance filter, HASH-GATED (r7, widened r8): per
    source a planted robots body — a non-star group that must be
    ignored, then an RFC 9309 STACKED agent block (User-agent:
    otherbot + User-agent: * sharing one directive list) with nested
    Disallow /private/ + Allow /private/pub/, an exact-length
    Allow/Disallow tie on /tmp, a '*'-wildcard rule (/*?q) and a
    '$'-anchored rule (/download$) — is PARSED by the relational
    directive parser (`llmdata/urls.py:parse_robots_rules`) and
    applied to per-doc paths with RFC 9309 longest-match semantics
    (`robots_filter`).  The %7==5 arm plants the SAME (domain, path)
    for many docs, pinning the r8 fix that every input row survives
    the longest-match window (row-id key, not (domain, path)).  The
    oracle recomputes verdicts from the planted path formula alone —
    it never parses robots text — so a hash match proves group
    stacking, directive capture, wildcard + anchor matching,
    longest-wins, tie->allow, and per-row output end-to-end."""
    from transcriptomics_data_integration_spark.llmdata.urls import (
        parse_robots_rules,
        robots_filter,
    )

    docs = _t(spark, sf_dir, "documents")
    robots = (
        docs.select("source").distinct().select(
            F.concat(F.col("source"), F.lit(".com")).alias("domain"),
            F.lit(
                "User-agent: somebot\n"
                "Disallow: /docs/\n"
                "\n"
                "User-agent: otherbot\n"
                "User-agent: *\n"
                "Disallow: /private/\n"
                "Allow: /private/pub/\n"
                "Disallow: /tmp\n"
                "Allow: /tmp\n"
                "Disallow: /*?q\n"
                "Disallow: /download$\n"
            ).alias("robots_txt"),
        )
    )
    rules = parse_robots_rules(robots)
    m = F.col("doc_id") % 7
    urls = docs.select(
        "doc_id",
        F.concat(F.col("source"), F.lit(".com")).alias("domain"),
        F.concat(
            F.element_at(
                F.array(
                    F.lit("/private/doc"),
                    F.lit("/private/pub/doc"),
                    F.lit("/docs/doc"),
                    F.lit("/tmp/doc"),
                    F.lit("/open/doc"),
                    F.lit("/download"),
                    F.lit("/download/doc"),
                ),
                (m + 1).cast("int"),
            ),
            F.when(m == 5, F.lit("")).otherwise(F.col("doc_id").cast("string")),
            F.when(m == 4, F.lit("?q=1")).otherwise(F.lit("")),
        ).alias("path"),
    )
    return robots_filter(urls, rules).select(
        "doc_id", "domain", "path", "matched_prefix", "matched_rule", "allowed"
    )


ORACLE_ROBOTS_FILTER = """
SELECT doc_id,
       source || '.com' AS domain,
       CASE doc_id % 7
         WHEN 0 THEN '/private/doc' || CAST(doc_id AS VARCHAR)
         WHEN 1 THEN '/private/pub/doc' || CAST(doc_id AS VARCHAR)
         WHEN 2 THEN '/docs/doc' || CAST(doc_id AS VARCHAR)
         WHEN 3 THEN '/tmp/doc' || CAST(doc_id AS VARCHAR)
         WHEN 4 THEN '/open/doc' || CAST(doc_id AS VARCHAR) || '?q=1'
         WHEN 5 THEN '/download'
         ELSE '/download/doc' || CAST(doc_id AS VARCHAR) END AS path,
       CASE doc_id % 7
         WHEN 0 THEN '/private/' WHEN 1 THEN '/private/pub/'
         WHEN 3 THEN '/tmp' WHEN 4 THEN '/*?q'
         WHEN 5 THEN '/download$' END AS matched_prefix,
       CASE doc_id % 7
         WHEN 0 THEN 'disallow' WHEN 1 THEN 'allow'
         WHEN 3 THEN 'allow' WHEN 4 THEN 'disallow'
         WHEN 5 THEN 'disallow' END AS matched_rule,
       (doc_id % 7) NOT IN (0, 4, 5) AS allowed
FROM documents
"""

QUERIES_LLM["robots_filter"] = q_robots_filter
ORACLES_LLM["robots_filter"] = ORACLE_ROBOTS_FILTER


def q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MJPEG-in-AVI video frame extraction, HASH-GATED (r8,
    closing the repo's LAST stub): per doc, 2 + doc_id % 3 grayscale
    16x24 frames tiled from 8x8-CONSTANT blocks
    v(f,bi,bj) = (doc_id*11 + f*53 + bi*37 + bj*17) % 256 are encoded
    frame-by-frame with the r7 baseline JPEG encoder, muxed into a
    real RIFF/AVI container (`llmdata/multimodal.py:encode_avi_mjpeg`
    — hdrl/avih/strh/strf, word-aligned '00dc' movi chunks, idx1),
    then demuxed + entropy-decoded back by the independent RIFF
    walker (`decode_avi_frames`) and reduced to one integer-exact
    pixel-sum row PER FRAME.  Constant 8x8 tiles survive the DCT
    pipeline bit-exactly under the all-ones quantization table, so
    the oracle recomputes every frame sum from the tile formula alone
    — it never touches container bytes.  A hash match proves the AVI
    chunk grammar (sizes, word alignment, avih counts), per-frame
    JPEG round-trip, and frame ordering end-to-end.  Map-side
    mapInPandas: zero shuffles."""
    import pandas as pd

    from transcriptomics_data_integration_spark.llmdata.multimodal import (
        decode_avi_frames,
        encode_avi_mjpeg,
    )

    BH, BW = 2, 3  # tile grid; each frame is (16, 24) gray

    def op(batches):
        import numpy as np

        bi, bj = np.mgrid[0:BH, 0:BW]
        ones = np.ones((8, 8), dtype=np.uint8)
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                frames = [
                    np.kron(
                        ((did * 11 + f * 53 + bi * 37 + bj * 17) % 256).astype(
                            np.uint8
                        ),
                        ones,
                    )
                    for f in range(2 + did % 3)
                ]
                vid = decode_avi_frames(encode_avi_mjpeg(frames, fps=12))
                if vid is None:
                    continue
                for fno, px in enumerate(vid["frames"]):
                    rows.append(
                        (
                            did,
                            fno,
                            vid["n_frames"],
                            px.shape[1],
                            px.shape[0],
                            int(px.astype(np.int64).sum()),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "frame_no", "n_frames",
                    "width", "height", "sum_v",
                ],
            )

    # one-split parquet -> repartition before the Python codec fan-out
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    return docs.mapInPandas(
        op,
        schema=(
            "media_id bigint, frame_no bigint, n_frames int, "
            "width int, height int, sum_v bigint"
        ),
    )


ORACLE_VIDEO_FRAMES = """
WITH fr AS (
  SELECT doc_id,
         UNNEST(range(0, CAST(2 + doc_id % 3 AS BIGINT))) AS f
  FROM documents
)
SELECT doc_id AS media_id,
       f AS frame_no,
       CAST(2 + doc_id % 3 AS INT) AS n_frames,
       24 AS width, 16 AS height,
       CAST(64 * (
           (doc_id*11 + f*53      ) % 256
         + (doc_id*11 + f*53 + 17 ) % 256
         + (doc_id*11 + f*53 + 34 ) % 256
         + (doc_id*11 + f*53 + 37 ) % 256
         + (doc_id*11 + f*53 + 54 ) % 256
         + (doc_id*11 + f*53 + 71 ) % 256
       ) AS BIGINT) AS sum_v
FROM fr
"""

QUERIES_LLM["video_frames"] = q_video_frames
ORACLES_LLM["video_frames"] = ORACLE_VIDEO_FRAMES


_BM25_TERMS = ["dup", "spark", "merge"]  # df ~29 / ~900 / ~900 at sf0.001


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k retrieval (r8): Lucene-form idf, k1=1.2 / b=0.75
    saturation, over the documents table for a 3-term query mixing one
    RARE term ('dup') with two common ones — so the idf weighting, the
    length normalization, and the tf saturation all discriminate.
    Plan: filtered-explode posting relation (query vocabulary only),
    pivoted per-term tf columns, one 1-row corpus-stats attach, and an
    explicit literal-coefficient score expression (no order-sensitive
    float sum; the oracle replays the identical expression tree).
    Top-k via orderBy+limit (TakeOrderedAndProject), rank windowed
    over the 100-row result only."""
    from transcriptomics_data_integration_spark.llmdata.retrieval import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    out = bm25_topk(docs, "doc_id", "text", _BM25_TERMS, k=100)
    return out.select(
        "doc_id",
        F.col("dl").cast("bigint").alias("dl"),
        F.round("score", 6).alias("score"),
        F.col("rank").cast("bigint").alias("rank"),
    )


def _bm25_oracle() -> str:
    t0, t1, t2 = _BM25_TERMS
    tf = "\n".join(
        f"         SUM(CASE WHEN term='{t}' THEN 1 ELSE 0 END) AS tf_{i},"
        for i, t in enumerate(_BM25_TERMS)
    )
    dfs = ",\n".join(
        f"         COUNT(DISTINCT CASE WHEN term='{t}' THEN doc_id END) AS df_{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    parts = " +\n       ".join(
        f"ln(1.0 + (N - df_{i} + 0.5) / (df_{i} + 0.5))"
        f" * ((tf_{i} * 2.2) / (tf_{i} + 1.2 * (0.25 + 0.75 * dl / avgdl)))"
        for i in range(len(_BM25_TERMS))
    )
    return f"""
WITH base AS (
  SELECT doc_id, len(string_split(trim(text), ' ')) AS dl,
         string_split(trim(text), ' ') AS toks
  FROM documents
), posting AS (
  SELECT doc_id, dl, UNNEST(toks) AS term FROM base
), pd AS (
  SELECT doc_id, dl,
{tf}
  FROM posting WHERE term IN ('{t0}', '{t1}', '{t2}')
  GROUP BY doc_id, dl
), st AS (
  SELECT COUNT(*) AS N, AVG(dl) AS avgdl FROM base
), dfs AS (
  SELECT
{dfs}
  FROM posting WHERE term IN ('{t0}', '{t1}', '{t2}')
), sc AS (
  SELECT doc_id, dl,
       {parts} AS score
  FROM pd CROSS JOIN st CROSS JOIN dfs
), ranked AS (
  SELECT doc_id, dl, score,
         ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM sc
)
SELECT doc_id, CAST(dl AS BIGINT) AS dl, ROUND(score, 6) AS score,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 100
"""


QUERIES_LLM["bm25_topk"] = q_bm25_topk
ORACLES_LLM["bm25_topk"] = _bm25_oracle()


def q_pagerank3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-3-iteration PageRank in tick-quantized integer mass
    (r8) — the host-rank quality signal of crawl curation
    (`llmdata/graph.py:pagerank_fixed`).  Fabric: a 3-out-degree link
    graph over doc ids (dst = (doc_id * m + a) % N for three (m, a)
    pairs — deterministic, includes hubs and self-loops).  Integer
    DIV transfers and percent damping make every engine bit-exact;
    the oracle unrolls the same three rounds as chained CTEs."""
    from transcriptomics_data_integration_spark.llmdata.graph import pagerank_fixed

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()  # bounded scalar for the edge-formula literal
    edges = None
    for m, a in ((5, 1), (7, 3), (11, 4)):
        part = docs.select(
            F.col("doc_id").alias("src"),
            ((F.col("doc_id") * m + a) % n).alias("dst"),
        )
        edges = part if edges is None else edges.unionByName(part)
    out = pagerank_fixed(edges, "src", "dst", n_iter=3)
    return out.select(
        F.col("node").alias("doc_id"),
        F.col("outdeg").cast("bigint").alias("outdeg"),
        "pr_units",
    )


def _pagerank_oracle() -> str:
    edge_union = "\n  UNION ALL\n".join(
        f"  SELECT doc_id AS src, (doc_id * {m} + {a}) %"
        " (SELECT COUNT(*) FROM documents) AS dst FROM documents"
        for m, a in ((5, 1), (7, 3), (11, 4))
    )
    # one iteration template: inflow from prN, then the damped update
    it = """, c{k} AS (
  SELECT e.dst AS node, p.pr // p.outdeg AS c
  FROM e JOIN pr{j} p ON e.src = p.node
), pr{k} AS (
  SELECT n.node, n.outdeg,
         ((15 * CAST(1000000000000 AS BIGINT)) // (100 * nn.N))
         + (85 * (COALESCE(i.inflow, 0) + 0 // nn.N)) // 100 AS pr
  FROM ndeg n
  LEFT JOIN (SELECT node, SUM(c) AS inflow FROM c{k} GROUP BY node) i
    ON n.node = i.node
  CROSS JOIN nn
)"""
    iters = "".join(it.format(k=k, j=k - 1) for k in (1, 2, 3))
    return f"""
WITH e AS (
{edge_union}
), nodes AS (
  SELECT src AS node FROM e UNION SELECT dst FROM e
), ndeg AS (
  SELECT n.node, o.outdeg
  FROM nodes n LEFT JOIN (
    SELECT src AS node, COUNT(*) AS outdeg FROM e GROUP BY src
  ) o ON n.node = o.node
), nn AS (
  SELECT COUNT(*) AS N FROM nodes
), pr0 AS (
  SELECT n.node, n.outdeg, CAST(1000000000000 AS BIGINT) // nn.N AS pr
  FROM ndeg n CROSS JOIN nn
){iters}
SELECT node AS doc_id, CAST(outdeg AS BIGINT) AS outdeg,
       CAST(pr AS BIGINT) AS pr_units
FROM pr3
"""


QUERIES_LLM["pagerank3"] = q_pagerank3
ORACLES_LLM["pagerank3"] = _pagerank_oracle()


def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail LM-quality bucketing (r8):
    interpolated bigram-LM scores -> corpus score tertiles -> map-side
    bucket assignment (`llmdata/text.py:perplexity_buckets`).  The
    thresholds are ONE exact-percentile 1-row broadcast attach, NOT a
    global ntile window (single-task trap); comparisons run on the
    6-dp rounded score so a boundary doc lands identically in both
    engines.  Oracle: the bigram-LM model SQL wrapped with the same
    quantile_cont thresholds and CASE."""
    from transcriptomics_data_integration_spark.llmdata.text import (
        perplexity_buckets,
    )

    docs = _t(spark, sf_dir, "documents")
    return perplexity_buckets(docs, "doc_id", lam=0.8)


ORACLE_PERPLEXITY_BUCKETS = f"""
WITH s AS (
{ORACLE_BIGRAM_LOGPROB}
), thr AS (
  SELECT quantile_cont(mean_bigram_logprob, 2.0/3.0) AS t_hi,
         quantile_cont(mean_bigram_logprob, 1.0/3.0) AS t_lo
  FROM s
)
SELECT s.doc_id, s.n_bigrams, s.mean_bigram_logprob AS score,
       CASE WHEN s.mean_bigram_logprob >= thr.t_hi THEN 1
            WHEN s.mean_bigram_logprob >= thr.t_lo THEN 2
            ELSE 3 END AS bucket
FROM s CROSS JOIN thr
"""

QUERIES_LLM["perplexity_buckets"] = q_perplexity_buckets
ORACLES_LLM["perplexity_buckets"] = ORACLE_PERPLEXITY_BUCKETS


def q_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate spans (r8, Lee et al. 2022's verbatim-
    passage dedup in relational form): per doc a planted token stream —
    a VARIABLE-length unique head (2 + doc_id % 3 tokens, so matching
    spans sit on nontrivial diagonals), a 25-token passage shared by
    the doc's group of four (doc_id DIV 4), and a unique tail.  The
    operator (`llmdata/dedup.py:substring_dedup_spans`, k=8 anchors,
    min 20 tokens) must report exactly one maximal span per same-group
    pair with the correct per-doc start offsets and length 25.  The
    oracle replays the ALGORITHM (gram anchors -> df guard -> hash
    self-join -> diagonal run-grouping) in DuckDB."""
    from transcriptomics_data_integration_spark.llmdata.dedup import (
        substring_dedup_spans,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    head = (
        "transform(sequence(1, CAST(2 + doc_id % 3 AS INT)), "
        "i -> concat('u', CAST(doc_id AS STRING), '_', CAST(i AS STRING)))"
    )
    mid = (
        "transform(sequence(1, 25), "
        "i -> concat('g', CAST(doc_id DIV 4 AS STRING), '_', CAST(i AS STRING)))"
    )
    tail = (
        "transform(sequence(1, 2), "
        "i -> concat('t', CAST(doc_id AS STRING), '_', CAST(i AS STRING)))"
    )
    synth = docs.select(
        "doc_id",
        F.expr(
            f"array_join(concat({head}, {mid}, {tail}), ' ')"
        ).alias("text"),
    )
    out = substring_dedup_spans(synth, "doc_id", k=8, min_tokens=20)
    return out.select(
        "id_a",
        "id_b",
        F.col("start_a").cast("bigint").alias("start_a"),
        F.col("start_b").cast("bigint").alias("start_b"),
        F.col("span_tokens").cast("bigint").alias("span_tokens"),
    )


ORACLE_SUBSTRING_SPANS = """
WITH txt AS (
  SELECT doc_id,
         list_concat(list_concat(
           list_transform(range(1, CAST(2 + doc_id % 3 AS BIGINT) + 1),
             i -> 'u' || CAST(doc_id AS VARCHAR) || '_' || CAST(i AS VARCHAR)),
           list_transform(range(1, 26),
             i -> 'g' || CAST(doc_id // 4 AS VARCHAR) || '_' || CAST(i AS VARCHAR))),
           list_transform(range(1, 3),
             i -> 't' || CAST(doc_id AS VARCHAR) || '_' || CAST(i AS VARCHAR))
         ) AS toks
  FROM documents
), positions AS (
  SELECT doc_id, toks, UNNEST(range(0, len(toks) - 7)) AS pos FROM txt
), grams AS (
  SELECT doc_id, pos,
         ('0x' || substring(md5(array_to_string(toks[pos + 1 : pos + 8], ' ')), 1, 15))::BIGINT AS gh
  FROM positions
), rare AS (
  SELECT gh FROM grams GROUP BY gh
  HAVING COUNT(DISTINCT doc_id) > 1 AND COUNT(DISTINCT doc_id) <= 1000
), g AS (
  SELECT doc_id, pos, gh FROM grams JOIN rare USING (gh)
), m AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.pos AS pos_a, b.pos AS pos_b
  FROM g a JOIN g b USING (gh)
  WHERE a.doc_id < b.doc_id
), runs AS (
  SELECT id_a, id_b, pos_a, pos_b,
         pos_a - ROW_NUMBER() OVER (
           PARTITION BY id_a, id_b, pos_a - pos_b ORDER BY pos_a
         ) AS run
  FROM m
)
SELECT id_a, id_b,
       CAST(MIN(pos_a) AS BIGINT) AS start_a,
       CAST(MIN(pos_b) AS BIGINT) AS start_b,
       CAST(MAX(pos_a) - MIN(pos_a) + 8 AS BIGINT) AS span_tokens
FROM runs
GROUP BY id_a, id_b, pos_a - pos_b, run
HAVING MAX(pos_a) - MIN(pos_a) + 8 >= 20
"""

QUERIES_LLM["substring_spans"] = q_substring_spans
ORACLES_LLM["substring_spans"] = ORACLE_SUBSTRING_SPANS


def q_repetition_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted repetition schedule (r8, the data-constrained
    scaling recipe): LM-quality tertiles (`perplexity_buckets`) drive
    per-bucket epoch counts (head x3 / middle x2 / tail x1), each
    emission explodes with an epoch index, and every (doc, epoch) copy
    gets a deterministic global ``train_pos`` via the bucketed
    md5-rank shuffle — repeated copies spread across the training
    stream instead of sitting adjacent.  Oracle: the bucket SQL
    wrapped with the same CASE fan-out and md5-rank window."""
    from transcriptomics_data_integration_spark.llmdata.sampling import (
        repetition_schedule,
    )
    from transcriptomics_data_integration_spark.llmdata.text import (
        perplexity_buckets,
    )

    docs = _t(spark, sf_dir, "documents")
    b = perplexity_buckets(docs, "doc_id", lam=0.8)
    out = repetition_schedule(b, "doc_id", "bucket", {1: 3, 2: 2, 3: 1})
    return out.select(
        "doc_id",
        "bucket",
        F.col("epoch").cast("bigint").alias("epoch"),
        F.col("train_pos").cast("bigint").alias("train_pos"),
    )


ORACLE_REPETITION_SCHEDULE = f"""
WITH b AS (
{ORACLE_PERPLEXITY_BUCKETS}
), fan AS (
  SELECT doc_id, bucket,
         UNNEST(range(1, CAST(CASE bucket WHEN 1 THEN 3 WHEN 2 THEN 2
                              ELSE 1 END AS BIGINT) + 1)) AS epoch
  FROM b
), keyed AS (
  SELECT doc_id, bucket, epoch,
         CAST(doc_id AS VARCHAR) || '#' || CAST(epoch AS VARCHAR) AS key
  FROM fan
)
SELECT doc_id, bucket, CAST(epoch AS BIGINT) AS epoch,
       CAST(ROW_NUMBER() OVER (
         ORDER BY ('0x' || substring(md5(key), 1, 15))::BIGINT, key
       ) - 1 AS BIGINT) AS train_pos
FROM keyed
"""

QUERIES_LLM["repetition_schedule"] = q_repetition_schedule
ORACLES_LLM["repetition_schedule"] = ORACLE_REPETITION_SCHEDULE


def q_warc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WARC/1.0 ingest, HASH-GATED (r8): per doc a 3-record WARC
    blob (request + response carrying the doc text inside a real HTTP
    envelope + metadata) is WRITTEN in the Common Crawl wire format —
    one gzip MEMBER per record (`sources/warc.py:encode_warc_gz`) —
    and read back by the independent record walker `decode_warc`:
    multi-member gunzip, version line, CRLF header block,
    Content-Length framing, HTTP envelope strip.  The extract keeps RESPONSE records only (the
    first stage of every public web-corpus recipe).  The oracle
    recomputes uri / counts / body stats from the documents formula
    alone — it never touches WARC bytes — so a hash match proves the
    container grammar and the envelope parse end-to-end.  Map-side
    mapInPandas: zero shuffles."""
    import pandas as pd

    from transcriptomics_data_integration_spark.sources.warc import (
        decode_warc,
        encode_warc_gz,
    )

    def op(batches):
        for pdf in batches:
            rows = []
            for did, src, text in zip(pdf["doc_id"], pdf["source"], pdf["text"]):
                did = int(did)
                uri = f"http://{src}.com/doc/{did}"
                blob = encode_warc_gz(
                    [
                        {"type": "request", "uri": uri},
                        {
                            "type": "response",
                            "uri": uri,
                            "body": str(text),
                            "http_status": 200,
                            "http_content_type": "text/plain",
                        },
                        {"type": "metadata", "uri": uri, "body": b"k: v"},
                    ]
                )
                recs = decode_warc(blob)
                resp = [r for r in recs if r["type"] == "response"]
                if len(resp) != 1:
                    continue
                r = resp[0]
                rows.append(
                    (
                        did,
                        len(recs),
                        r["uri"],
                        r["http_status"],
                        r["body_chars"],
                        r["body_h"],
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_records", "uri",
                    "http_status", "body_chars", "body_h",
                ],
            )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    return docs.mapInPandas(
        op,
        schema=(
            "doc_id bigint, n_records int, uri string, "
            "http_status int, body_chars bigint, body_h bigint"
        ),
    )


ORACLE_WARC_EXTRACT = """
SELECT doc_id,
       3 AS n_records,
       'http://' || source || '.com/doc/' || CAST(doc_id AS VARCHAR) AS uri,
       200 AS http_status,
       CAST(length(text) AS BIGINT) AS body_chars,
       ('0x' || substring(md5(text), 1, 15))::BIGINT AS body_h
FROM documents
"""

QUERIES_LLM["warc_extract"] = q_warc_extract
ORACLES_LLM["warc_extract"] = ORACLE_WARC_EXTRACT


def q_ingest_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-ingest front-end end-to-end, HASH-GATED (r8) — the stage
    chain UPSTREAM of web_pipeline's corpus construction:

    1. REAL WARC mux/demux per doc (request + response whose HTTP body
       is the html-wrapped text, the web_pipeline wrap verbatim);
    2. robots.txt compliance (the r8 stacked-group/wildcard body,
       paths by the doc_id % 7 formula) — only ALLOWED docs proceed;
    3. REAL HTML -> text extraction on the survivors;
    4. the full Gopher battery on the extracted text.

    Every stage is an already-gated kernel; the composition pins the
    handoffs (WARC body round-trip -> robots columns -> extractor
    input -> quality flags).  The oracle computes the allowed set from
    the path formula, the extracted text from the wrap formula, and
    re-roots the Gopher SQL at that relation — it never touches WARC
    or HTML bytes."""
    import pandas as pd

    from transcriptomics_data_integration_spark.llmdata.text import (
        gopher_quality,
        html_extract,
    )
    from transcriptomics_data_integration_spark.llmdata.urls import (
        parse_robots_rules,
        robots_filter,
    )
    from transcriptomics_data_integration_spark.sources.warc import (
        decode_warc,
        encode_warc,
    )

    docs = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 7
    path = F.concat(
        F.element_at(
            F.array(
                F.lit("/private/doc"), F.lit("/private/pub/doc"),
                F.lit("/docs/doc"), F.lit("/tmp/doc"), F.lit("/open/doc"),
                F.lit("/download"), F.lit("/download/doc"),
            ),
            (m + 1).cast("int"),
        ),
        F.when(m == 5, F.lit("")).otherwise(F.col("doc_id").cast("string")),
        F.when(m == 4, F.lit("?q=1")).otherwise(F.lit("")),
    )
    html = F.concat(
        F.lit(
            '<html><head><title>t</title><script>var x = "drop&amp;me";'
            "</script><style>p { color: red }</style></head><body><h1>Doc "
        ),
        F.col("doc_id").cast("string"),
        F.lit("</h1><p>"),
        F.col("text"),
        F.lit("</p><div>tail &amp; &#65;&#x42;  end</div></body></html>"),
    )
    staged = docs.select(
        "doc_id",
        F.concat(F.col("source"), F.lit(".com")).alias("domain"),
        path.alias("path"),
        html.alias("html"),
    ).repartition(spark.sparkContext.defaultParallelism)

    def warc_op(batches):
        for pdf in batches:
            rows = []
            for did, dom, pth, h in zip(
                pdf["doc_id"], pdf["domain"], pdf["path"], pdf["html"]
            ):
                uri = f"http://{dom}{pth}"
                blob = encode_warc(
                    [
                        {"type": "request", "uri": uri},
                        {
                            "type": "response",
                            "uri": uri,
                            "body": str(h),
                            "http_status": 200,
                            "http_content_type": "text/html",
                        },
                    ]
                )
                resp = [
                    r for r in decode_warc(blob) if r["type"] == "response"
                ]
                if len(resp) != 1:
                    continue
                rows.append(
                    (int(did), str(dom), str(pth), resp[0]["body"].decode("utf-8", "replace"))
                )
            yield pd.DataFrame(rows, columns=["doc_id", "domain", "path", "html"])

    fetched = staged.mapInPandas(
        warc_op, schema="doc_id bigint, domain string, path string, html string"
    )
    robots = (
        docs.select("source").distinct().select(
            F.concat(F.col("source"), F.lit(".com")).alias("domain"),
            F.lit(
                "User-agent: somebot\n"
                "Disallow: /docs/\n"
                "\n"
                "User-agent: otherbot\n"
                "User-agent: *\n"
                "Disallow: /private/\n"
                "Allow: /private/pub/\n"
                "Disallow: /tmp\n"
                "Allow: /tmp\n"
                "Disallow: /*?q\n"
                "Disallow: /download$\n"
            ).alias("robots_txt"),
        )
    )
    rules = parse_robots_rules(robots)
    allowed = robots_filter(fetched, rules).where(F.col("allowed")).select(
        "doc_id", "html"
    )
    ext = html_extract(allowed, "doc_id", "html")
    return gopher_quality(ext).select("doc_id", "n_tokens", "keep")


ORACLE_INGEST_PIPELINE = (
    r"""
WITH ext AS (
  SELECT doc_id,
         'Doc ' || CAST(doc_id AS VARCHAR) || chr(10) ||
         trim(regexp_replace(text, '[ \t]+', ' ', 'g')) || chr(10) ||
         'tail & AB end' AS text
  FROM documents WHERE doc_id % 7 NOT IN (0, 4, 5)
), gq AS (
"""
    + ORACLE_GOPHER_QUALITY.replace("FROM documents", "FROM ext")
    + """
)
SELECT doc_id, n_tokens, keep FROM gq
"""
)

QUERIES_LLM["ingest_pipeline"] = q_ingest_pipeline
ORACLES_LLM["ingest_pipeline"] = ORACLE_INGEST_PIPELINE


def q_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-3 tf-idf keywords (r8,
    `llmdata/retrieval.py:tfidf_keywords`): classic ln(N/df) idf (a
    corpus-ubiquitous term scores exactly 0), deterministic term-text
    tiebreak, per-DOC top-k window.  tfidf = integer tf * one ln of an
    integer ratio — a single libm call on identical operands, rounded
    6 dp per repo FP policy."""
    from transcriptomics_data_integration_spark.llmdata.retrieval import (
        tfidf_keywords,
    )

    docs = _t(spark, sf_dir, "documents")
    out = tfidf_keywords(docs, "doc_id", "text", k=3)
    return out.select(
        "doc_id",
        "term",
        "tf",
        F.col("df").cast("bigint").alias("df"),
        F.round("tfidf", 6).alias("tfidf"),
        F.col("rank").cast("bigint").alias("rank"),
    )


ORACLE_TFIDF_KEYWORDS = """
WITH posting AS (
  SELECT doc_id, UNNEST(string_split(trim(text), ' ')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM posting GROUP BY doc_id, term
), dfs AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df FROM posting GROUP BY term
), nn AS (
  SELECT COUNT(DISTINCT doc_id) AS N FROM documents
), scored AS (
  SELECT t.doc_id, t.term, t.tf, d.df,
         t.tf * ln(CAST(n.N AS DOUBLE) / d.df) AS tfidf
  FROM tf t JOIN dfs d USING (term) CROSS JOIN nn n
), ranked AS (
  SELECT doc_id, term, tf, df, tfidf,
         ROW_NUMBER() OVER (
           PARTITION BY doc_id ORDER BY tfidf DESC, term ASC
         ) AS rank
  FROM scored
)
SELECT doc_id, term, tf, CAST(df AS BIGINT) AS df,
       ROUND(tfidf, 6) AS tfidf, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 3
"""

QUERIES_LLM["tfidf_keywords"] = q_tfidf_keywords
ORACLES_LLM["tfidf_keywords"] = ORACLE_TFIDF_KEYWORDS


def q_unicode_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode hygiene pass, HASH-GATED (r7): each doc's text gets a
    planted suffix of NFC-decomposed accent (e + U+0301), zero-width
    space, NBSP, and a BEL control char; `llmdata/text.py:
    unicode_clean` must compose the accent, strip the invisibles,
    fold the NBSP to ASCII space, and count codepoints.  The oracle
    rebuilds the expected output from the text column alone (the
    composed form via chr(233)) — it never runs a normalizer — so a
    hash match proves the NFC + strip semantics."""
    from transcriptomics_data_integration_spark.llmdata.text import unicode_clean

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" e\u0301\u200bx\u00a0y\u0007z"),
        ).alias("text"),
    )
    return unicode_clean(docs, "doc_id")


ORACLE_UNICODE_CLEAN = """
SELECT doc_id,
       text || ' ' || chr(233) || 'x yz' AS clean_text,
       CAST(length(text) + 9 AS INTEGER) AS n_cp_in,
       CAST(length(text) + 6 AS INTEGER) AS n_cp_out
FROM documents
"""

QUERIES_LLM["unicode_clean"] = q_unicode_clean
ORACLES_LLM["unicode_clean"] = ORACLE_UNICODE_CLEAN


def q_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture sampling, HASH-GATED (r7): allocate
    200 docs across sources with alpha=0.5 smoothing (under the
    corpus size, so the rank-prefix truncation is actually exercised)
    (`llmdata/sampling.py:temperature_sample` — the mT5/T5
    p_s ~ n_s^alpha rule that stops head sources drowning the tail),
    tick-quantized integer weights and pure-LONG DIV allocation so
    the arithmetic is engine-exact, md5-priority rank selection
    within each source.  The oracle replays weights, allocation, and
    ranks verbatim."""
    from transcriptomics_data_integration_spark.llmdata.sampling import (
        temperature_sample,
    )

    docs = _t(spark, sf_dir, "documents")
    out = temperature_sample(docs, "source", "doc_id", total_docs=200, alpha=0.5)
    return out.select("doc_id", "source", "k_target", "rk")


ORACLE_TEMPERATURE = """
WITH counts AS (
  SELECT source, COUNT(*) AS n FROM documents GROUP BY source
), dim AS (
  SELECT source,
         CAST(FLOOR(POWER(CAST(n AS DOUBLE), 0.5) * 1000000.0 + 0.5) AS BIGINT) AS w
  FROM counts
), alloc0 AS (
  SELECT source,
         (200 * w) // (SELECT SUM(w) FROM dim) AS k0,
         (200 * w) %  (SELECT SUM(w) FROM dim) AS rem
  FROM dim
), alloc AS (
  SELECT source,
         k0 + CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, source ASC)
                        <= 200 - (SELECT SUM(k0) FROM alloc0)
                   THEN 1 ELSE 0 END AS k_target
  FROM alloc0
), ranked AS (
  SELECT d.doc_id, d.source, a.k_target,
         ROW_NUMBER() OVER (
           PARTITION BY d.source
           ORDER BY ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT,
                    d.doc_id
         ) AS rk
  FROM documents d JOIN alloc a USING (source)
)
SELECT doc_id, source, CAST(k_target AS BIGINT) AS k_target, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= k_target
"""

QUERIES_LLM["temperature_sample"] = q_temperature_sample
ORACLES_LLM["temperature_sample"] = ORACLE_TEMPERATURE


def q_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global corpus shuffle, HASH-GATED (r7): every doc
    gets its 0-based position in md5-hash order
    (`llmdata/sampling.py:global_shuffle`) — the reproducible
    training-order randomization step (no rand(), no seed state;
    stable under retries and engine swap).  Above the Catalyst
    single-task estimate the rank runs as the md5-domain bucketed
    two-pass; the oracle replays the hash order as one window."""
    from transcriptomics_data_integration_spark.llmdata.sampling import (
        global_shuffle,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return global_shuffle(docs, "doc_id").select("doc_id", "source", "shuffle_pos")


ORACLE_GLOBAL_SHUFFLE = """
SELECT doc_id, source,
       CAST(ROW_NUMBER() OVER (
         ORDER BY ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
                  doc_id
       ) - 1 AS BIGINT) AS shuffle_pos
FROM documents
"""

QUERIES_LLM["global_shuffle"] = q_global_shuffle
ORACLES_LLM["global_shuffle"] = ORACLE_GLOBAL_SHUFFLE


def q_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT semi-structured path, HASH-GATED (r7): per doc
    an in-plan nested JSON payload (object -> array -> object) goes
    through `parse_json` into a VARIANT column and back out through
    typed `variant_get` paths — nested field, array index, array-of-
    object traversal — plus `try_variant_get` on a missing path
    (NULL, not error).  VARIANT is the engine's schema-on-read lane
    for ragged metadata (crawler headers, per-source sidecars) where
    a fixed `from_json` schema can't be declared up front; the binary
    encoding keeps extraction JVM-side (no UDF).  The oracle
    recomputes every extracted field from the payload formulas alone
    (it never parses JSON), so a hash match proves the whole
    parse_json -> variant_get path."""
    docs = _t(spark, sf_dir, "documents")
    payload = F.concat(
        F.lit('{"doc": {"id": '),
        F.col("doc_id").cast("string"),
        F.lit(', "langs": ["en", "fr", "de"], "meta": {"n": '),
        (F.col("doc_id") % 7).cast("string"),
        F.lit('}}, "tags": [{"k": "alpha", "v": '),
        (F.col("doc_id") % 13).cast("string"),
        F.lit('}, {"k": "beta", "v": '),
        (F.col("doc_id") % 5).cast("string"),
        F.lit("}]}"),
    )
    v = F.parse_json(payload)
    return docs.select(
        "doc_id",
        F.variant_get(v, "$.doc.id", "bigint").alias("vid"),
        F.variant_get(v, "$.doc.langs[1]", "string").alias("lang1"),
        F.variant_get(v, "$.doc.meta.n", "int").alias("meta_n"),
        F.variant_get(v, "$.tags[0].v", "int").alias("tag0_v"),
        F.variant_get(v, "$.tags[1].k", "string").alias("tag1_k"),
        F.try_variant_get(v, "$.doc.missing", "string").alias("absent"),
    )


ORACLE_VARIANT_EXTRACT = """
SELECT doc_id,
       CAST(doc_id AS BIGINT) AS vid,
       'fr' AS lang1,
       CAST(doc_id % 7 AS INTEGER) AS meta_n,
       CAST(doc_id % 13 AS INTEGER) AS tag0_v,
       'beta' AS tag1_k,
       CAST(NULL AS VARCHAR) AS absent
FROM documents
"""

QUERIES_LLM["variant_extract"] = q_variant_extract
ORACLES_LLM["variant_extract"] = ORACLE_VARIANT_EXTRACT


ORACLE_TOKEN_BUDGET = """
WITH scored AS (
  SELECT doc_id, source,
         CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens,
         md5(source || '#' || CAST(doc_id AS VARCHAR)) AS pri,
         CAST(CASE source WHEN 'src1' THEN 900 WHEN 'src2' THEN 450
                          WHEN 'src3' THEN 0 ELSE 300 END AS BIGINT) AS budget
  FROM documents
), cum AS (
  SELECT doc_id, source, n_tokens, budget,
         -- CAST is load-bearing: DuckDB types a windowed BIGINT SUM as
         -- HUGEINT, which pandas/Arrow materialization (the driver's
         -- oracle path) renders as float64 ("903.0" vs Spark's "903")
         -- -> hash mismatch even though every value is identical
         -- (CORRECTNESS_r06 token_budget_sample red row).
         CAST(SUM(n_tokens) OVER (
           PARTITION BY source ORDER BY pri, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS cum_tokens
  FROM scored
)
SELECT doc_id, source, n_tokens, cum_tokens
FROM cum WHERE cum_tokens <= budget
"""

QUERIES_LLM["token_budget_sample"] = q_token_budget_sample
ORACLES_LLM["token_budget_sample"] = ORACLE_TOKEN_BUDGET


def q_leakage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val split, HASH-GATED (r6): the two-crawl
    corpus's SimHash near-dup pairs close into clusters
    (`dedup_clusters`) and every doc is assigned to train/val by the
    md5 hash of its CLUSTER key (`llmdata/sampling.py:
    leakage_safe_split`, val_frac=0.2) — so a near-duplicate can never
    sit in val while its twin trains (the leaked-answer failure mode
    of doc-keyed splits).  The oracle replays the recursive-CTE
    closure AND the hash threshold, so a hash match proves the whole
    chain: pairs -> components -> cluster-keyed assignment."""
    from transcriptomics_data_integration_spark.llmdata.dedup import (
        dedup_clusters,
        simhash_neardup_pairs,
    )
    from transcriptomics_data_integration_spark.llmdata.sampling import (
        leakage_safe_split,
    )

    docs = _two_crawls(_t(spark, sf_dir, "documents")).select("doc_id")
    pairs = simhash_neardup_pairs(
        _two_crawls(_t(spark, sf_dir, "documents")), "doc_id", max_hamming=3,
        expand="star",  # closure-identical, linear in dup-clique size (r8)
    )
    clusters = dedup_clusters(pairs.select("id_a", "id_b"))
    return leakage_safe_split(docs, clusters, "doc_id", val_frac=0.2).select(
        "doc_id", "cluster_key", "split"
    )


def _oracle_leakage_split() -> str:
    # the dedup_clusters chain (same text as ORACLE_DEDUP_CLUSTERS up
    # to the closure), then cluster-keyed md5 membership; the threshold
    # literal is computed by the SAME python expression the engine uses
    thr = int(0.2 * float(1 << 60))
    return f"""
WITH RECURSIVE crawls AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents
), toks AS (
  SELECT doc_id, UNNEST(string_split(trim(text), ' ')) AS token FROM crawls
), hashed AS (
  SELECT doc_id, ('0x' || substring(md5(token), 1, 15))::BIGINT AS h FROM toks
), bits AS (
  SELECT doc_id, bit, SUM(((h >> bit) & CAST(1 AS BIGINT)) * 2 - 1) AS s
  FROM hashed, (SELECT UNNEST(generate_series(0, 59)) AS bit)
  GROUP BY doc_id, bit
), sig AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
  FROM bits GROUP BY doc_id
), banded AS (
  SELECT doc_id, simhash, b.b AS band, (simhash >> (b.b * 15)) & 32767 AS key
  FROM sig, (SELECT UNNEST(generate_series(0, 3)) AS b) b
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
  FROM banded a JOIN banded b2
    ON a.band = b2.band AND a.key = b2.key AND a.doc_id < b2.doc_id
  WHERE bit_count(xor(a.simhash, b2.simhash)) <= 3
), edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
), reach(src, dst) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
), closure AS (
  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS canonical_id
  FROM reach GROUP BY src
), keyed AS (
  SELECT c.doc_id,
         COALESCE(q.canonical_id, c.doc_id) AS cluster_key
  FROM crawls c LEFT JOIN closure q USING (doc_id)
)
SELECT doc_id, cluster_key,
       CASE WHEN ('0x' || substring(
              md5('split' || '#' || CAST(cluster_key AS VARCHAR)), 1, 15)
            )::BIGINT < {thr}
            THEN 'val' ELSE 'train' END AS split
FROM keyed
"""


QUERIES_LLM["leakage_split"] = q_leakage_split
ORACLES_LLM["leakage_split"] = _oracle_leakage_split()


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel analysis: per user, the first view, the first
    click strictly after that view, and the first purchase strictly
    after that click — then the funnel stage counts.  Three cascaded
    conditional-min aggregations on the user key (each stage's
    aggregate is one row per user, so the two re-joins are
    broadcast-sized relative to the fact)."""
    ev = _events(spark, sf_dir).select("user_id", "event_type", "ts")
    s1 = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view")
    )
    s2 = (
        ev.join(s1, "user_id")
        .groupBy("user_id")
        .agg(
            F.first("t_view").alias("t_view"),
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") > F.col("t_view")),
                    F.col("ts"),
                )
            ).alias("t_click"),
        )
    )
    s3 = (
        ev.join(s2, "user_id")
        .groupBy("user_id")
        .agg(
            F.first("t_view").alias("t_view"),
            F.first("t_click").alias("t_click"),
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t_click")),
                    F.col("ts"),
                )
            ).alias("t_purchase"),
        )
    )
    return s3.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_view").alias("n_viewed"),
        F.count("t_click").alias("n_clicked_after_view"),
        F.count("t_purchase").alias("n_purchased_after_click"),
    )


ORACLE_FUNNEL = """
WITH s1 AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN epoch_ns(ts) END) AS t_view
  FROM events GROUP BY user_id
), s2 AS (
  SELECT e.user_id, ANY_VALUE(s1.t_view) AS t_view,
         MIN(CASE WHEN e.event_type = 'click' AND epoch_ns(e.ts) > s1.t_view
                  THEN epoch_ns(e.ts) END) AS t_click
  FROM events e JOIN s1 USING (user_id) GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, ANY_VALUE(s2.t_view) AS t_view,
         ANY_VALUE(s2.t_click) AS t_click,
         MIN(CASE WHEN e.event_type = 'purchase' AND epoch_ns(e.ts) > s2.t_click
                  THEN epoch_ns(e.ts) END) AS t_purchase
  FROM events e JOIN s2 USING (user_id) GROUP BY e.user_id
)
SELECT COUNT(*) AS n_users,
       COUNT(t_view) AS n_viewed,
       COUNT(t_click) AS n_clicked_after_view,
       COUNT(t_purchase) AS n_purchased_after_click
FROM s3
"""

QUERIES_LLM["funnel"] = q_funnel
ORACLES_LLM["funnel"] = ORACLE_FUNNEL


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity day (cohort),
    counted as retained in each later day-offset they were active.
    Two aggs (first-activity per user; distinct activity days) + one
    join on the user key; the output is the cohort x offset triangle."""
    ev = _events(spark, sf_dir)
    day = F.expr(f"ts div {86400 * _NS_PER_S}")
    acts = ev.select("user_id", day.alias("day")).distinct()
    cohort = acts.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        acts.join(cohort, "user_id")
        .groupBy("cohort_day", (F.col("day") - F.col("cohort_day")).alias("day_offset"))
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


ORACLE_COHORT = """
WITH acts AS (
  SELECT DISTINCT user_id,
         CAST(epoch_ns(ts) // 86400000000000 AS BIGINT) AS day
  FROM events
), cohort AS (
  SELECT user_id, MIN(day) AS cohort_day FROM acts GROUP BY user_id
)
SELECT c.cohort_day, a.day - c.cohort_day AS day_offset,
       COUNT(DISTINCT a.user_id) AS n_active
FROM acts a JOIN cohort c USING (user_id)
GROUP BY 1, 2
"""

QUERIES_LLM["cohort_retention"] = q_cohort_retention
ORACLES_LLM["cohort_retention"] = ORACLE_COHORT


def q_normalize_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-text exact dedup: lowercase/whitespace-collapsed
    canonical form hashed instead of the raw bytes — catches
    case/spacing-variant duplicates plain exact_dedup misses.  Here the
    second crawl is a case-mangled copy, so every doc pairs up."""
    from transcriptomics_data_integration_spark.llmdata.text import normalize_text

    docs = _t(spark, sf_dir, "documents")
    mangled = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.upper(F.col("text")).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(mangled)
    normed = normalize_text(corpus)
    return exact_dedup(normed.select("doc_id", F.col("norm_text").alias("text")), "doc_id")


ORACLE_NORMALIZE_DEDUP = r"""
WITH crawls AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, upper(text) FROM documents
), normed AS (
  SELECT doc_id,
         trim(lower(regexp_replace(regexp_replace(text, '[\x00-\x1f]', ' ', 'g'),
                                   '\s+', ' ', 'g'))) AS text
  FROM crawls
)
SELECT md5(text) AS digest, MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
FROM normed GROUP BY md5(text)
"""

QUERIES_LLM["normalize_dedup"] = q_normalize_dedup
ORACLES_LLM["normalize_dedup"] = ORACLE_NORMALIZE_DEDUP


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass (llmdata/text.py:scrub_pii) — synthetic PII
    spans (email / SSN / IPv4 / phone, keyed off doc_id so both
    engines build the identical text) are injected into the corpus,
    then counted and replaced by typed placeholders.  Pure
    regexp_count/regexp_replace map-side codegen, zero shuffles."""
    from transcriptomics_data_integration_spark.llmdata.text import scrub_pii

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    injected = docs.select(
        "doc_id",
        F.concat_ws(
            "",
            F.substring("text", 1, 40),
            F.lit(" reach user"), did, F.lit("@example.com"),
            F.lit(" from 10.0."), (did % 250).cast("string"), F.lit(".7"),
            F.when(did % 3 == 0, F.concat_ws(
                "", F.lit(" id "), (did % 900 + 100).cast("string"),
                F.lit("-"), F.lpad((did % 100).cast("string"), 2, "0"),
                F.lit("-"), F.lpad((did % 10000).cast("string"), 4, "0"),
            )).otherwise(F.lit("")),
            F.when(did % 2 == 0, F.lit(" call +1 555-867-5309")).otherwise(F.lit("")),
        ).alias("text"),
    )
    out = scrub_pii(injected, "text")
    return out.select(
        "doc_id", "n_email", "n_ssn", "n_ipv4", "n_phone", "text_scrubbed"
    )


ORACLE_PII_SCRUB = r"""
WITH injected AS (
  SELECT doc_id,
         substr(text, 1, 40)
         || ' reach user' || doc_id || '@example.com'
         || ' from 10.0.' || (doc_id % 250) || '.7'
         || CASE WHEN doc_id % 3 = 0
                 THEN ' id ' || (doc_id % 900 + 100)
                      || '-' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
                      || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                 ELSE '' END
         || CASE WHEN doc_id % 2 = 0 THEN ' call +1 555-867-5309' ELSE '' END
         AS text
  FROM documents
)
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
  CAST(len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b')) AS INT) AS n_ssn,
  CAST(len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INT) AS n_ipv4,
  CAST(len(regexp_extract_all(text, '\+\d[\d -]{7,13}\d')) AS INT) AS n_phone,
  regexp_replace(
    regexp_replace(
      regexp_replace(
        regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
    '\+\d[\d -]{7,13}\d', '<PHONE>', 'g') AS text_scrubbed
FROM injected
"""

QUERIES_LLM["pii_scrub"] = q_pii_scrub
ORACLES_LLM["pii_scrub"] = ORACLE_PII_SCRUB


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS-level paragraph dedup, HASH-GATED — the CCNet/RefinedWeb
    cross-document boilerplate pass (`llmdata/dedup.py:
    dedup_paragraphs`): multi-paragraph docs are built from the corpus
    with a universal subscribe block and a per-source legal footer
    planted in every doc; each duplicate paragraph class keeps only its
    first (doc_id, position) occurrence, winner chosen by a map-side
    combinable min(struct) — no digest window, so a crawl-scale banner
    repeated in 10^8 docs never funnels one reducer.  Gated on
    paragraph counts + the md5 of the reassembled text."""
    from transcriptomics_data_integration_spark.llmdata.dedup import dedup_paragraphs

    docs = _t(spark, sf_dir, "documents")
    multi = docs.select(
        "doc_id",
        F.concat_ws(
            "\n\n",
            F.substring("text", 1, 80),
            F.lit("Subscribe to our newsletter"),
            F.substring("text", 81, 80),
            F.concat(F.lit("(c) all rights reserved "), F.col("source")),
        ).alias("text"),
    )
    out = dedup_paragraphs(multi, "doc_id")
    return out.select(
        "doc_id",
        "n_paras",
        "n_kept",
        F.md5(F.col("text_deduped").cast("binary")).alias("dedup_md5"),
    )


ORACLE_PARAGRAPH_DEDUP = """
WITH multi AS (
  SELECT doc_id,
         concat_ws(chr(10) || chr(10),
           substr(text, 1, 80), 'Subscribe to our newsletter',
           substr(text, 81, 80),
           '(c) all rights reserved ' || source) AS text
  FROM documents
), arr AS (
  SELECT doc_id, string_split(text, chr(10) || chr(10)) AS ls FROM multi
), p0 AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(ls)),
                               i -> {'pos': i, 'para': ls[i]})) AS u
  FROM arr
), paras AS (
  SELECT doc_id, u.pos AS pos, u.para AS para,
         lower(trim(u.para)) AS norm
  FROM p0
), win AS (
  SELECT norm, doc_id AS wid, pos AS wpos FROM (
    SELECT norm, doc_id, pos,
           ROW_NUMBER() OVER (PARTITION BY norm ORDER BY doc_id, pos) AS rn
    FROM paras WHERE length(norm) >= 1
  ) WHERE rn = 1
), kept AS (
  SELECT p.doc_id, p.pos, p.para
  FROM paras p LEFT JOIN win w ON p.norm = w.norm
  WHERE length(p.norm) < 1 OR (p.doc_id = w.wid AND p.pos = w.wpos)
), reb AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         md5(string_agg(para, chr(10) || chr(10) ORDER BY pos)) AS dedup_md5
  FROM kept GROUP BY doc_id
), base AS (
  SELECT doc_id, len(string_split(text, chr(10) || chr(10))) AS n_paras
  FROM multi
)
SELECT b.doc_id, CAST(b.n_paras AS INTEGER) AS n_paras,
       CAST(COALESCE(r.n_kept, 0) AS INTEGER) AS n_kept,
       COALESCE(r.dedup_md5, md5('')) AS dedup_md5
FROM base b LEFT JOIN reb r USING (doc_id)
"""

QUERIES_LLM["paragraph_dedup"] = q_paragraph_dedup
ORACLES_LLM["paragraph_dedup"] = ORACLE_PARAGRAPH_DEDUP


def q_ngram_span_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-substring removal, HASH-GATED — the distributed
    suffix-array-dedup substitute (Lee et al. 2021; `llmdata/dedup.py:
    mask_frequent_ngrams`): every 8-token span occurring >= 2 times
    corpus-wide is masked from every document.  Gram inventory,
    frequency filter, and span cover are all hash-partitioned
    aggregates/joins (map-side-combinable counts); gated on token
    counts + the md5 of the masked text."""
    from transcriptomics_data_integration_spark.llmdata.dedup import (
        mask_frequent_ngrams,
    )

    docs = _t(spark, sf_dir, "documents")
    out = mask_frequent_ngrams(docs, "doc_id", n=8, min_count=2)
    return out.select(
        "doc_id",
        "n_tokens",
        "n_masked",
        F.md5(F.col("text_masked").cast("binary")).alias("masked_md5"),
    )


ORACLE_NGRAM_SPAN_MASK = r"""
WITH arr AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ts FROM documents
), g0 AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, greatest(len(ts) - 7, 0)),
                i -> {'pos': i,
                      'g': md5(list_aggregate(ts[i:i+7], 'string_agg', ' '))})) AS u
  FROM arr
), grams AS (
  SELECT doc_id, u.pos AS pos, u.g AS g FROM g0
), freq AS (
  SELECT g FROM grams GROUP BY g HAVING COUNT(*) >= 2
), cov AS (
  SELECT DISTINCT doc_id, unnest(generate_series(pos, pos + 7)) AS p
  FROM grams JOIN freq USING (g)
), t0 AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(ts)),
                               i -> {'p': i, 'tok': ts[i]})) AS u
  FROM arr
), toks AS (
  SELECT doc_id, u.p AS p, u.tok AS tok FROM t0
), kept AS (
  SELECT t.doc_id, t.p, t.tok
  FROM toks t ANTI JOIN cov c ON t.doc_id = c.doc_id AND t.p = c.p
), reb AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         md5(string_agg(tok, ' ' ORDER BY p)) AS masked_md5
  FROM kept GROUP BY doc_id
), base AS (
  SELECT doc_id, len(ts) AS n_tokens FROM arr
)
SELECT b.doc_id, CAST(b.n_tokens AS INTEGER) AS n_tokens,
       CAST(b.n_tokens - COALESCE(r.n_kept, 0) AS INTEGER) AS n_masked,
       COALESCE(r.masked_md5, md5('')) AS masked_md5
FROM base b LEFT JOIN reb r USING (doc_id)
"""

QUERIES_LLM["ngram_span_mask"] = q_ngram_span_mask
ORACLES_LLM["ngram_span_mask"] = ORACLE_NGRAM_SPAN_MASK


def q_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser-Ney bigram LM quality score (r8,
    `llmdata/text.py:kneser_ney_logprob`): the KenLM smoothing family
    CCNet's perplexity filter actually runs, with the continuation-
    probability back-off raw-frequency interpolation lacks.  With the
    fixed d = 3/4 discount the whole probability is one BIGINT
    rational -> one DOUBLE division -> one ln() — identical operands
    in both engines; the per-doc mean rounds 6 dp (repo FP policy)."""
    from transcriptomics_data_integration_spark.llmdata.text import (
        kneser_ney_logprob,
    )

    docs = _t(spark, sf_dir, "documents")
    out = kneser_ney_logprob(docs, "doc_id")
    return out.select(
        "doc_id",
        F.col("n_bigrams").cast("bigint").alias("n_bigrams"),
        F.round("mean_kn_logprob", 6).alias("mean_kn_logprob"),
    )


ORACLE_KNESER_NEY = """
WITH docs_t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM documents
), bigrams AS (
  SELECT doc_id, UNNEST(
    CASE WHEN len(toks) < 2 THEN []
         ELSE list_transform(generate_series(1, len(toks) - 1),
                             i -> toks[i] || ' ' || toks[i + 1]) END
  ) AS bigram FROM docs_t
), bi AS (
  SELECT bigram,
         string_split(bigram, ' ')[1] AS w1,
         string_split(bigram, ' ')[2] AS w2,
         CAST(COUNT(*) AS BIGINT) AS c12
  FROM bigrams GROUP BY bigram
), lft AS (
  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1dot,
         CAST(COUNT(*) AS BIGINT) AS t1
  FROM bi GROUP BY w1
), cont AS (
  SELECT w2, CAST(COUNT(*) AS BIGINT) AS c2cont FROM bi GROUP BY w2
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS B FROM bi
), model AS (
  SELECT b.bigram,
         ln(CAST((4 * b.c12 - 3) * t.B + 3 * l.t1 * c.c2cont AS DOUBLE)
            / CAST(4 * l.c1dot * t.B AS DOUBLE)) AS lp
  FROM bi b
  JOIN lft l ON b.w1 = l.w1
  JOIN cont c ON b.w2 = c.w2
  CROSS JOIN tot t
)
SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(SUM(m.lp) / COUNT(*), 6) AS mean_kn_logprob
FROM bigrams g JOIN model m USING (bigram)
GROUP BY g.doc_id
"""

QUERIES_LLM["kneser_ney"] = q_kneser_ney
ORACLES_LLM["kneser_ney"] = ORACLE_KNESER_NEY


def q_c4_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 heuristic cleaning battery, HASH-GATED (r8,
    `llmdata/text.py:c4_filter` — Raffel et al. 2020 §2.2, public).
    The gate corpus plants line structure the flat documents table
    lacks: tokens regrouped into 8-token lines; terminator by formula
    ((doc_id + i) % 3 == 0 -> NONE so the line fails the terminal-
    punctuation rule, == 1 -> '.', == 2 -> '!'); a literal
    ' javascript' token injected when (doc_id + i) % 7 == 0; a
    brace-bearing line appended when doc_id % 11 == 0 and a
    'Lorem ipsum' line when doc_id % 13 == 0.  The oracle recomputes
    every line verdict AND the surviving clean_text from those
    formulas alone — it never runs the kernel's regexes — so a hash
    match proves the terminal-punct / min-words / javascript line
    rules and the brace / lorem / min-kept-lines doc rules
    end-to-end."""
    from transcriptomics_data_integration_spark.llmdata.text import c4_filter

    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), " ")
    lines = F.expr(
        "transform(sequence(1, cast(ceil(size(_t) / 8.0) as int)), i -> "
        "  concat("
        "    array_join(slice(_t, (i - 1) * 8 + 1, 8), ' '),"
        "    CASE WHEN (doc_id + i) % 7 = 0 THEN ' javascript' ELSE '' END,"
        "    CASE WHEN (doc_id + i) % 3 = 1 THEN '.'"
        "         WHEN (doc_id + i) % 3 = 2 THEN '!' ELSE '' END))"
    )
    planted = docs.select(F.col("doc_id"), toks.alias("_t")).select(
        "doc_id",
        F.concat(
            F.array_join(lines, "\n"),
            F.when(F.col("doc_id") % 11 == 0, F.lit("\nvar x = { y }.")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 13 == 0, F.lit("\nLorem ipsum dolor sit amet.")).otherwise(F.lit("")),
        ).alias("text"),
    )
    out = c4_filter(planted, "doc_id")
    return out.select(
        "doc_id",
        F.col("n_lines").cast("bigint").alias("n_lines"),
        F.col("n_kept_lines").cast("bigint").alias("n_kept_lines"),
        "has_brace",
        "has_lorem",
        "keep",
        F.md5("clean_text").alias("clean_md5"),
    )


ORACLE_C4_FILTER = """
WITH arr AS (
  SELECT doc_id, string_split(trim(text), ' ') AS ts FROM documents
), lines AS (
  SELECT doc_id,
         UNNEST(list_transform(
           generate_series(1, CAST(ceil(len(ts) / 8.0) AS INTEGER)),
           i -> {'i': i,
                 'txt': array_to_string(ts[(i - 1) * 8 + 1 : i * 8], ' ')
                        || (CASE WHEN (doc_id + i) % 7 = 0
                                 THEN ' javascript' ELSE '' END)
                        || (CASE WHEN (doc_id + i) % 3 = 1 THEN '.'
                                 WHEN (doc_id + i) % 3 = 2 THEN '!'
                                 ELSE '' END),
                 'nw': least(8, len(ts) - (i - 1) * 8)
                       + (CASE WHEN (doc_id + i) % 7 = 0 THEN 1 ELSE 0 END),
                 'term': (doc_id + i) % 3 <> 0,
                 'js': (doc_id + i) % 7 = 0})) AS u
  FROM arr
), flat AS (
  SELECT doc_id, u.i AS i, u.txt AS txt, u.nw AS nw, u.term AS term,
         u.js AS js,
         u.term AND NOT u.js AND u.nw >= 3 AS keep_line
  FROM lines
), extra AS (
  SELECT doc_id, CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END AS n_brace,
         CASE WHEN doc_id % 13 = 0 THEN 1 ELSE 0 END AS n_lorem
  FROM arr
), per_doc AS (
  SELECT f.doc_id,
         MAX(CAST(ceil(len(a.ts) / 8.0) AS BIGINT)) AS n_base_lines,
         CAST(SUM(CASE WHEN f.keep_line THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_base,
         string_agg(CASE WHEN f.keep_line THEN f.txt END, chr(10) ORDER BY f.i) AS kept_base
  FROM flat f JOIN arr a USING (doc_id)
  GROUP BY f.doc_id
)
SELECT p.doc_id,
       p.n_base_lines + e.n_brace + e.n_lorem AS n_lines,
       p.n_kept_base + e.n_brace + e.n_lorem AS n_kept_lines,
       e.n_brace = 1 AS has_brace,
       e.n_lorem = 1 AS has_lorem,
       (p.n_kept_base + e.n_brace + e.n_lorem >= 3)
         AND e.n_brace = 0 AND e.n_lorem = 0 AS keep,
       md5(COALESCE(p.kept_base, '')
           || (CASE WHEN e.n_brace = 1
                    THEN (CASE WHEN p.n_kept_base > 0 THEN chr(10) ELSE '' END)
                         || 'var x = { y }.' ELSE '' END)
           || (CASE WHEN e.n_lorem = 1
                    THEN (CASE WHEN p.n_kept_base + e.n_brace > 0 THEN chr(10) ELSE '' END)
                         || 'Lorem ipsum dolor sit amet.' ELSE '' END)) AS clean_md5
FROM per_doc p JOIN extra e USING (doc_id)
"""

QUERIES_LLM["c4_filter"] = q_c4_filter
ORACLES_LLM["c4_filter"] = ORACLE_C4_FILTER


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window token chunking, HASH-GATED (r8,
    `llmdata/text.py:chunk_documents`): 16-token windows with stride
    12 (4-token overlap), 1-based starts, last partial window kept —
    the embedding-pipeline preprocessor.  Integer arithmetic + string
    joins only, so the gate is bit-exact end-to-end."""
    from transcriptomics_data_integration_spark.llmdata.text import (
        chunk_documents,
    )

    docs = _t(spark, sf_dir, "documents")
    out = chunk_documents(docs, "doc_id", chunk_tokens=16, stride=12)
    return out.select(
        "doc_id", "chunk_id", "start_token", "n_chunk_tokens",
        F.md5("chunk_text").alias("chunk_md5"),
    )


ORACLE_DOC_CHUNKS = """
WITH arr AS (
  SELECT doc_id, string_split(trim(text), ' ') AS ts FROM documents
), starts AS (
  SELECT doc_id, ts,
         UNNEST(generate_series(1, greatest(len(ts) - 16 + 12, 1), 12)) AS s
  FROM arr
)
SELECT doc_id,
       CAST((s - 1) // 12 AS BIGINT) AS chunk_id,
       CAST(s AS BIGINT) AS start_token,
       CAST(least(16, len(ts) - s + 1) AS BIGINT) AS n_chunk_tokens,
       md5(array_to_string(ts[s : s + 15], ' ')) AS chunk_md5
FROM starts
"""

QUERIES_LLM["doc_chunks"] = q_doc_chunks
ORACLES_LLM["doc_chunks"] = ORACLE_DOC_CHUNKS


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance-resampling selection, HASH-GATED (r8,
    `llmdata/sampling.py:dsir_logweights` — Xie et al. 2023, public):
    hashed-unigram (1024-bucket) Laplace models fit on the target half
    (lang = 'en') vs the raw pool, per-doc log importance weight, then
    the percentile-threshold selection policy: keep raw docs whose
    6-dp-rounded weight clears the raw pool's 75th percentile (the
    perplexity_buckets 1-row threshold-attach discipline — no global
    ntile window).  Every per-bucket log-ratio is one ln() of a
    BIGINT rational, so both engines score identical operands."""
    from transcriptomics_data_integration_spark.llmdata.sampling import (
        dsir_logweights,
    )

    docs = _t(spark, sf_dir, "documents")
    w = dsir_logweights(
        docs.withColumn("_tgt", F.col("lang") == "en"), "doc_id", "_tgt"
    ).withColumn("lw", F.round("logweight", 6))
    thr = w.where(~F.col("is_target")).agg(
        F.percentile("lw", F.lit(0.75)).alias("_thr")
    )
    return (
        w.join(F.broadcast(thr))
        .select(
            "doc_id",
            "is_target",
            F.col("n_toks").cast("bigint").alias("n_toks"),
            F.col("lw").alias("logweight"),
            (~F.col("is_target") & (F.col("lw") >= F.col("_thr"))).alias(
                "selected"
            ),
        )
    )


ORACLE_DSIR_SELECT = """
WITH stream AS (
  SELECT doc_id, lang = 'en' AS is_target,
         ('0x' || substring(md5(tok), 1, 15))::BIGINT % 1024 AS bucket
  FROM (
    SELECT doc_id, lang,
           UNNEST(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                              x -> x <> '')) AS tok
    FROM documents
  )
), model AS (
  SELECT bucket,
         CAST(SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS ct,
         CAST(SUM(CASE WHEN is_target THEN 0 ELSE 1 END) AS BIGINT) AS cr
  FROM stream GROUP BY bucket
), totals AS (
  SELECT CAST(SUM(ct) AS BIGINT) AS tt, CAST(SUM(cr) AS BIGINT) AS tr
  FROM model
), lw AS (
  SELECT bucket,
         ln(CAST((m.ct + 1) * (t.tr + 1024) AS DOUBLE)
            / CAST((m.cr + 1) * (t.tt + 1024) AS DOUBLE)) AS lwb
  FROM model m CROSS JOIN totals t
), per_doc AS (
  SELECT s.doc_id, s.is_target,
         CAST(COUNT(*) AS BIGINT) AS n_toks,
         ROUND(SUM(l.lwb), 6) AS logweight
  FROM stream s JOIN lw l USING (bucket)
  GROUP BY s.doc_id, s.is_target
), thr AS (
  SELECT quantile_cont(logweight, 0.75) AS t FROM per_doc WHERE NOT is_target
)
SELECT p.doc_id, p.is_target, p.n_toks, p.logweight,
       (NOT p.is_target) AND p.logweight >= thr.t AS selected
FROM per_doc p CROSS JOIN thr
"""

QUERIES_LLM["dsir_select"] = q_dsir_select
ORACLES_LLM["dsir_select"] = ORACLE_DSIR_SELECT


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency OLS fit, HASH-GATED (r8,
    `llmdata/text.py:zipf_fit`): corpus-health diagnostic — ln(freq)
    on ln(rank) over the top-100 terms (freq DESC, term ASC ties).
    The corpus-sized work is one term groupBy; the top cut is
    TakeOrdered; moments run on the bounded 100-row relation.  Slope
    and intercept round 6 dp (repo FP policy)."""
    from transcriptomics_data_integration_spark.llmdata.text import zipf_fit

    docs = _t(spark, sf_dir, "documents")
    out = zipf_fit(docs, top_n=100)
    return out.select(
        "n_terms",
        F.round("slope", 6).alias("slope"),
        F.round("intercept", 6).alias("intercept"),
    )


ORACLE_ZIPF_FIT = """
WITH tokens AS (
  SELECT UNNEST(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                            x -> x <> '')) AS term
  FROM documents
), freq AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS freq FROM tokens GROUP BY term
), top AS (
  SELECT term, freq,
         ROW_NUMBER() OVER (ORDER BY freq DESC, term ASC) AS rank
  FROM freq ORDER BY freq DESC, term ASC LIMIT 100
), xy AS (
  SELECT ln(CAST(rank AS DOUBLE)) AS x, ln(CAST(freq AS DOUBLE)) AS y
  FROM top
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(x * y) AS sxy
  FROM xy
)
SELECT n AS n_terms,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n,
             6) AS intercept
FROM m
"""

QUERIES_LLM["zipf_fit"] = q_zipf_fit
ORACLES_LLM["zipf_fit"] = ORACLE_ZIPF_FIT


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cross-corpus dedup, HASH-GATED (r8,
    `llmdata/dedup.py:incremental_minhash_dedup`): a synthetic "new
    crawl" (offset ids) arrives against the kept corpus — one third
    exact copies (digest hit, minhash skipped), one third near-dups
    (text + an appended token; banded candidates -> exact-Jaccard
    verify -> best match), one third genuinely new ('fresh-<id>'
    payloads).  The oracle replays digest matching, the 16-seed
    minhash, 4-band bucketing, directional candidate join,
    verification, and the (jaccard DESC, ex_id ASC) best-match window
    in DuckDB — so a hash match pins the whole incremental index
    semantics.  Jaccard rounds 6 dp (repo FP policy)."""
    from transcriptomics_data_integration_spark.llmdata.dedup import (
        incremental_minhash_dedup,
    )

    docs = _t(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par)  # one-split fan-out (r7 finding)
    incoming = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.when(F.col("doc_id") % 3 == 0, F.col("text"))
        .when(F.col("doc_id") % 3 == 1, F.concat(F.col("text"), F.lit(" qq")))
        .otherwise(
            F.concat(F.lit("fresh-"), F.col("doc_id"), F.lit("-unique-content-row"))
        )
        .alias("text"),
    )
    # broadcast_batch auto (r12): r11 hard-coded False here on a
    # batch/corpus RATIO argument, but the driver measured the
    # broadcast arm faster at sf0.1 on BOTH core counts (3.3 s r10 vs
    # 5.4 s r11, +0.6 s attributable) — at small ABSOLUTE batch sizes
    # the broadcasts beat the shuffles regardless of the ratio.  The
    # kernel now self-selects from Catalyst's plan-size estimate of
    # the batch (no job): tiny gate batch -> broadcast arm; a lake-
    # scale batch blows the 256 MB bound -> bucketed/shuffle arm.
    # Rows identical either way (pytested arm equivalence + this
    # gate's DuckDB oracle, which replays semantics, not plan).
    out = incremental_minhash_dedup(docs, incoming, "doc_id", threshold=0.8)
    return out.select(
        "doc_id",
        "verdict",
        "matched_id",
        F.col("n_inter").cast("int").alias("n_inter"),
        F.col("n_a").cast("int").alias("n_a"),
        F.col("n_b").cast("int").alias("n_b"),
        F.round("jaccard", 6).alias("jaccard"),
    )


ORACLE_INCREMENTAL_DEDUP = f"""
WITH incoming AS (
  SELECT doc_id + 1000000 AS inc_id,
         CASE WHEN doc_id % 3 = 0 THEN text
              WHEN doc_id % 3 = 1 THEN text || ' qq'
              ELSE 'fresh-' || CAST(doc_id AS VARCHAR) || '-unique-content-row'
         END AS text
  FROM documents
), ex_digest AS (
  SELECT md5(text) AS digest, MIN(doc_id) AS matched_id
  FROM documents GROUP BY md5(text)
), exact AS (
  SELECT i.inc_id, e.matched_id FROM incoming i
  JOIN ex_digest e ON md5(i.text) = e.digest
), rest AS (
  SELECT inc_id AS doc_id, text FROM incoming
  WHERE md5(text) NOT IN (SELECT digest FROM ex_digest)
), sh_inc AS (
  SELECT doc_id, UNNEST({_SHINGLE_SQL}) AS shingle FROM rest
), sh_ex AS (
  SELECT doc_id, UNNEST({_SHINGLE_SQL}) AS shingle FROM documents
), sig_inc AS (
  SELECT doc_id, seed,
         MIN((CASE WHEN seed % 2 = 0
            THEN ('0x' || substring(md5(shingle || '#' || CAST(seed // 4 AS VARCHAR)),
                                    1 + 15 * ((seed // 2) % 2), 15))::BIGINT // 1073741824
            ELSE ('0x' || substring(md5(shingle || '#' || CAST(seed // 4 AS VARCHAR)),
                                    1 + 15 * ((seed // 2) % 2), 15))::BIGINT % 1073741824
       END)) AS minhash
  FROM sh_inc, (SELECT UNNEST(generate_series(0, 15)) AS seed)
  GROUP BY doc_id, seed
), sig_ex AS (
  SELECT doc_id, seed,
         MIN((CASE WHEN seed % 2 = 0
            THEN ('0x' || substring(md5(shingle || '#' || CAST(seed // 4 AS VARCHAR)),
                                    1 + 15 * ((seed // 2) % 2), 15))::BIGINT // 1073741824
            ELSE ('0x' || substring(md5(shingle || '#' || CAST(seed // 4 AS VARCHAR)),
                                    1 + 15 * ((seed // 2) % 2), 15))::BIGINT % 1073741824
       END)) AS minhash
  FROM sh_ex, (SELECT UNNEST(generate_series(0, 15)) AS seed)
  GROUP BY doc_id, seed
), band_inc AS (
  SELECT doc_id, CAST(seed // 4 AS INTEGER) AS band,
         STRING_AGG(CAST(minhash AS VARCHAR), '_' ORDER BY seed) AS band_key
  FROM sig_inc GROUP BY doc_id, CAST(seed // 4 AS INTEGER)
), band_ex AS (
  SELECT doc_id, CAST(seed // 4 AS INTEGER) AS band,
         STRING_AGG(CAST(minhash AS VARCHAR), '_' ORDER BY seed) AS band_key
  FROM sig_ex GROUP BY doc_id, CAST(seed // 4 AS INTEGER)
), cands AS (
  SELECT DISTINCT i.doc_id AS inc_id, e.doc_id AS ex_id
  FROM band_inc i JOIN band_ex e
    ON i.band = e.band AND i.band_key = e.band_key
), sizes_inc AS (
  SELECT doc_id, COUNT(DISTINCT shingle) AS n_sh FROM sh_inc GROUP BY doc_id
), sizes_ex AS (
  SELECT doc_id, COUNT(DISTINCT shingle) AS n_sh FROM sh_ex GROUP BY doc_id
), inter AS (
  SELECT c.inc_id, c.ex_id, COUNT(DISTINCT a.shingle) AS n_inter
  FROM cands c
  JOIN sh_inc a ON a.doc_id = c.inc_id
  JOIN sh_ex b ON b.doc_id = c.ex_id AND a.shingle = b.shingle
  GROUP BY c.inc_id, c.ex_id
), verified AS (
  SELECT i.inc_id, i.ex_id,
         CAST(i.n_inter AS INTEGER) AS n_inter,
         CAST(sa.n_sh AS INTEGER) AS n_a,
         CAST(sb.n_sh AS INTEGER) AS n_b,
         i.n_inter / (sa.n_sh + sb.n_sh - i.n_inter) AS jaccard
  FROM inter i
  JOIN sizes_inc sa ON i.inc_id = sa.doc_id
  JOIN sizes_ex sb ON i.ex_id = sb.doc_id
  WHERE i.n_inter / (sa.n_sh + sb.n_sh - i.n_inter) >= 0.8e0
), best AS (
  SELECT inc_id, ex_id, n_inter, n_a, n_b, jaccard,
         ROW_NUMBER() OVER (
           PARTITION BY inc_id ORDER BY jaccard DESC, ex_id ASC
         ) AS rn
  FROM verified
), matched AS (
  SELECT inc_id, 'exact' AS verdict, matched_id,
         CAST(NULL AS INTEGER) AS n_inter, CAST(NULL AS INTEGER) AS n_a,
         CAST(NULL AS INTEGER) AS n_b, 1.0e0 AS jaccard
  FROM exact
  UNION ALL
  SELECT inc_id, 'near' AS verdict, ex_id AS matched_id,
         n_inter, n_a, n_b, jaccard
  FROM best WHERE rn = 1
)
SELECT i.inc_id AS doc_id,
       COALESCE(m.verdict, 'new') AS verdict,
       m.matched_id, m.n_inter, m.n_a, m.n_b,
       ROUND(m.jaccard, 6) AS jaccard
FROM incoming i LEFT JOIN matched m USING (inc_id)
"""

QUERIES_LLM["incremental_dedup"] = q_incremental_dedup
ORACLES_LLM["incremental_dedup"] = ORACLE_INCREMENTAL_DEDUP


def q_prototype_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSL-prototype pruning, HASH-GATED (r8,
    `llmdata/similarity.py:prototype_prune` — Sorscher et al. 2022):
    Knuth-hash prototype codebook (the ivf_fixed layout), argmin-L2
    cell assignment, per-cell hardest-half keep by 6-dp-rounded cosine
    to the prototype.  The oracle replays codebook pick, assignment
    fold, cosine fold, and the (cos ASC, id ASC) keep rank — the full
    pruning layout is bit-checked."""
    from transcriptomics_data_integration_spark.llmdata.similarity import (
        prototype_prune,
    )

    emb = _t(spark, sf_dir, "embeddings")
    out = prototype_prune(emb, n_cells=16, keep_frac=0.5, dim=64)
    return out.select(
        "vec_id",
        F.col("cell").cast("int").alias("cell"),
        "cos_to_proto",
        F.col("cell_rank").cast("bigint").alias("cell_rank"),
        F.col("n_cell").cast("bigint").alias("n_cell"),
        "kept",
    )


ORACLE_PROTOTYPE_PRUNE = f"""
WITH base AS (
  SELECT vec_id AS cand_id, embedding AS c_vec,
         (((((vec_id % 4294967296) // 65536) * 2654435761) % 65536) * 65536
          + ((vec_id % 65536) * 2654435761)) % 4294967296 AS h
  FROM embeddings
), picked AS (
  SELECT h, cand_id, c_vec FROM base ORDER BY h, cand_id LIMIT 16
), centers AS (
  SELECT ROW_NUMBER() OVER (ORDER BY h, cand_id) - 1 AS cell,
         list_transform(c_vec, x -> CAST(x AS DOUBLE)) AS center
  FROM picked
), ac AS (
  SELECT b.cand_id, b.c_vec, c.cell, c.center,
         {{l2}} AS dist
  FROM base b CROSS JOIN centers c
), assigned AS (
  SELECT cand_id, c_vec, cell, center FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY cand_id ORDER BY dist, cell) AS rn
    FROM ac
  ) WHERE rn = 1
), scored AS (
  SELECT cand_id, cell,
         ROUND({{dotac}}
               / (sqrt({{dotaa}}) * sqrt({{dotcc}})), 6) AS cos_to_proto
  FROM assigned a
), ranked AS (
  SELECT cand_id, cell, cos_to_proto,
         ROW_NUMBER() OVER (
           PARTITION BY cell ORDER BY cos_to_proto ASC, cand_id ASC
         ) AS cell_rank,
         COUNT(*) OVER (PARTITION BY cell) AS n_cell
  FROM scored
)
SELECT cand_id AS vec_id, CAST(cell AS INTEGER) AS cell, cos_to_proto,
       CAST(cell_rank AS BIGINT) AS cell_rank,
       CAST(n_cell AS BIGINT) AS n_cell,
       cell_rank <= CAST(ceil(n_cell * 0.5) AS BIGINT) AS kept
FROM ranked
""".format(
    l2=_L2_SQL.format(a="b.c_vec", b="c.center"),
    dotac=_DOT_SQL.format(a="a.c_vec", b="a.center"),
    dotaa=_DOT_SQL.format(a="a.c_vec", b="a.c_vec"),
    dotcc=_DOT_SQL.format(a="a.center", b="a.center"),
)

QUERIES_LLM["prototype_prune"] = q_prototype_prune
ORACLES_LLM["prototype_prune"] = ORACLE_PROTOTYPE_PRUNE


def q_c4_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 corpus-level span dedup, HASH-GATED (r8,
    `llmdata/dedup.py:dedup_line_spans` — the dedup half of C4,
    complementing the `c4_filter` heuristics gate): tokens regrouped
    into 8-token lines, then a two-crawl union where each copy gains a
    unique trailing line — so interior spans duplicate (copy loses
    those lines, canonical keeps them) while each copy's tail spans
    stay unique (lines near the new trailer survive).  The oracle
    replays span windows, the min-(id, start) canonical election,
    duplicate-cover explosion, anti-join, and ordered rebuild in
    DuckDB."""
    from transcriptomics_data_integration_spark.llmdata.dedup import (
        dedup_line_spans,
    )

    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), " ")
    lined = docs.select(F.col("doc_id"), toks.alias("_t")).select(
        "doc_id",
        F.array_join(
            F.expr(
                "transform(sequence(1, cast(ceil(size(_t) / 8.0) as int)), "
                "i -> array_join(slice(_t, (i - 1) * 8 + 1, 8), ' '))"
            ),
            "\n",
        ).alias("text"),
    )
    crawls = lined.unionByName(
        lined.select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat(
                F.col("text"), F.lit("\ncopy marker "), F.col("doc_id")
            ).alias("text"),
        )
    )
    out = dedup_line_spans(crawls, "doc_id", span_lines=3)
    return out.select(
        "doc_id",
        F.col("n_lines").cast("bigint").alias("n_lines"),
        F.col("n_removed").cast("bigint").alias("n_removed"),
        F.md5("clean_text").alias("clean_md5"),
    )


ORACLE_C4_SPAN_DEDUP = """
WITH lined AS (
  SELECT doc_id,
         list_transform(
           generate_series(1, CAST(ceil(len(ts) / 8.0) AS INTEGER)),
           i -> array_to_string(ts[(i - 1) * 8 + 1 : i * 8], ' ')) AS ls
  FROM (SELECT doc_id, string_split(trim(text), ' ') AS ts FROM documents)
), crawls AS (
  SELECT doc_id, ls FROM lined
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         list_append(ls, 'copy marker ' || CAST(doc_id AS VARCHAR)) AS ls
  FROM lined
), lines AS (
  SELECT doc_id, UNNEST(list_transform(generate_series(1, len(ls)),
                 i -> {'i': i - 1, 'line': ls[i]})) AS u
  FROM crawls
), flat AS (
  SELECT doc_id, u.i AS i, u.line AS line FROM lines
), spans AS (
  SELECT doc_id, UNNEST(
    CASE WHEN len(ls) < 3 THEN []
         ELSE list_transform(generate_series(1, len(ls) - 2),
              s -> {'start': s - 1,
                    'dig': md5(array_to_string(ls[s : s + 2], chr(10)))}) END
  ) AS sp
  FROM crawls
), sflat AS (
  SELECT doc_id, sp.start AS start, sp.dig AS dig FROM spans
), per_dig AS (
  SELECT dig, COUNT(*) AS n,
         MIN({'d': doc_id, 's': start}) AS canon
  FROM sflat GROUP BY dig
), dup_cover AS (
  SELECT DISTINCT s.doc_id, UNNEST(generate_series(s.start, s.start + 2)) AS i
  FROM sflat s JOIN per_dig p USING (dig)
  WHERE p.n > 1 AND NOT (s.doc_id = p.canon.d AND s.start = p.canon.s)
), kept AS (
  SELECT f.doc_id, f.i, f.line
  FROM flat f ANTI JOIN dup_cover d ON f.doc_id = d.doc_id AND f.i = d.i
), rebuilt AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         string_agg(line, chr(10) ORDER BY i) AS clean_text
  FROM kept GROUP BY doc_id
), base AS (
  SELECT doc_id, len(ls) AS n_lines FROM crawls
)
SELECT b.doc_id, CAST(b.n_lines AS BIGINT) AS n_lines,
       CAST(b.n_lines - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed,
       md5(COALESCE(r.clean_text, '')) AS clean_md5
FROM base b LEFT JOIN rebuilt r USING (doc_id)
"""

QUERIES_LLM["c4_span_dedup"] = q_c4_span_dedup
ORACLES_LLM["c4_span_dedup"] = ORACLE_C4_SPAN_DEDUP


def q_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No-split NFD bin packing, HASH-GATED (r8,
    `llmdata/sampling.py:pack_bins_nfd`): documents' token counts
    packed whole into 128-token bins across 8 md5 bucket streams.
    Next-fit's single running (bin, fill, pos) state is replayed by a
    DuckDB RECURSIVE CTE walking each bucket's (n DESC, id) order —
    every bin id, position, fill level, and overflow flag is
    bit-checked.  (True FFD keeps every open bin live and is not
    sequentially replayable — the docstring records that trade.)"""
    from transcriptomics_data_integration_spark.llmdata.sampling import (
        pack_bins_nfd,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), " ")).alias("n_tokens"),
    )
    out = pack_bins_nfd(docs, "doc_id", "n_tokens", seq_len=128, n_buckets=8)
    return out.select(
        "doc_id",
        F.col("bucket").cast("bigint").alias("bucket"),
        F.col("bin_in_bucket").cast("bigint").alias("bin_in_bucket"),
        F.col("pos_in_bin").cast("int").alias("pos_in_bin"),
        F.col("bin_fill").cast("bigint").alias("bin_fill"),
        "truncated",
    )


ORACLE_PACK_BINS = """
WITH RECURSIVE base AS (
  SELECT doc_id,
         CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n,
         ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 8 AS bucket
  FROM documents
), docs AS (
  SELECT doc_id, n, bucket,
         ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY n DESC, doc_id) AS k
  FROM base
), walk AS (
  SELECT bucket, k, doc_id, n,
         CAST(0 AS BIGINT) AS bin,
         0 AS pos,
         n AS fill_emit,
         n >= 128 AND n > 128 AS truncated,
         CASE WHEN n >= 128 THEN CAST(128 AS BIGINT) ELSE n END AS fill_state
  FROM docs WHERE k = 1
  UNION ALL
  SELECT d.bucket, d.k, d.doc_id, d.n,
         CASE WHEN d.n >= 128 OR w.fill_state + d.n > 128
              THEN w.bin + 1 ELSE w.bin END AS bin,
         CASE WHEN d.n >= 128 OR w.fill_state + d.n > 128
              THEN 0 ELSE w.pos + 1 END AS pos,
         CASE WHEN d.n >= 128 OR w.fill_state + d.n > 128
              THEN d.n ELSE w.fill_state + d.n END AS fill_emit,
         d.n > 128 AS truncated,
         CASE WHEN d.n >= 128 THEN CAST(128 AS BIGINT)
              WHEN w.fill_state + d.n > 128 THEN d.n
              ELSE w.fill_state + d.n END AS fill_state
  FROM walk w JOIN docs d ON d.bucket = w.bucket AND d.k = w.k + 1
)
SELECT doc_id, bucket, bin AS bin_in_bucket, pos AS pos_in_bin,
       fill_emit AS bin_fill, truncated
FROM walk
"""

QUERIES_LLM["pack_bins"] = q_pack_bins
ORACLES_LLM["pack_bins"] = ORACLE_PACK_BINS


def q_url_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted URL blocklist scoring, HASH-GATED (r8,
    `llmdata/urls.py:url_blocklist_score` — the RefinedWeb-style
    soft-ban stage): per doc a planted URL whose path carries marker
    segments by doc_id formula (shop / download / both / blog+shop /
    clean), scored against a 4-rule list — one hard domain ban
    (src1.com, w=1.0), two soft substrings (shop 0.6, download 0.5),
    one negative allowlist substring (blog -0.2); blocked at
    score >= 1.0.  Weights aggregate as e-6 tick LONGS.  The oracle
    recomputes n_matched / score / blocked from the plant formulas
    alone — it never runs contains() — so a hash match proves domain
    equi-join, substring crossJoin filter, weight summation,
    left-join zero fill, and thresholding end-to-end."""
    from transcriptomics_data_integration_spark.llmdata.urls import (
        url_blocklist_score,
    )

    docs = _t(spark, sf_dir, "documents")
    seg = (
        F.when(F.col("doc_id") % 5 == 0, F.lit("shop"))
        .when(F.col("doc_id") % 5 == 1, F.lit("download"))
        .when(F.col("doc_id") % 5 == 2, F.lit("shop/download"))
        .when(F.col("doc_id") % 5 == 3, F.lit("blog/shop"))
        .otherwise(F.lit("page"))
    )
    urls = docs.select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".com/"), seg,
            F.lit("/d"), F.col("doc_id"),
        ).alias("url")
    )
    rules = spark.createDataFrame(
        [
            ("domain", "src1.com", 1.0),
            ("substring", "shop", 0.6),
            ("substring", "download", 0.5),
            ("substring", "blog", -0.2),
        ],
        "kind string, pattern string, weight double",
    )
    out = url_blocklist_score(urls, rules, threshold=1.0)
    return out.select(
        "url", "n_matched", F.round("score", 6).alias("score"), "blocked"
    )


ORACLE_URL_BLOCKLIST = """
WITH base AS (
  SELECT 'https://' || source || '.com/' ||
         CASE WHEN doc_id % 5 = 0 THEN 'shop'
              WHEN doc_id % 5 = 1 THEN 'download'
              WHEN doc_id % 5 = 2 THEN 'shop/download'
              WHEN doc_id % 5 = 3 THEN 'blog/shop'
              ELSE 'page' END || '/d' || CAST(doc_id AS VARCHAR) AS url,
         CASE WHEN source = 'src1' THEN 1 ELSE 0 END AS dom_hit,
         doc_id % 5 AS arm
  FROM documents
), scored AS (
  SELECT url,
         dom_hit
           + CASE WHEN arm IN (0, 2, 3) THEN 1 ELSE 0 END  -- shop
           + CASE WHEN arm IN (1, 2) THEN 1 ELSE 0 END     -- download
           + CASE WHEN arm = 3 THEN 1 ELSE 0 END           -- blog
           AS n_matched,
         dom_hit * 1000000
           + CASE WHEN arm IN (0, 2, 3) THEN 600000 ELSE 0 END
           + CASE WHEN arm IN (1, 2) THEN 500000 ELSE 0 END
           + CASE WHEN arm = 3 THEN -200000 ELSE 0 END
           AS score_t
  FROM base
)
SELECT url, CAST(n_matched AS BIGINT) AS n_matched,
       ROUND(score_t / 1000000.0, 6) AS score,
       score_t >= 1000000 AS blocked
FROM scored
"""

QUERIES_LLM["url_blocklist"] = q_url_blocklist
ORACLES_LLM["url_blocklist"] = ORACLE_URL_BLOCKLIST


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modern curation chain end-to-end, HASH-GATED (r8) — the
    composition of this round's second-wave stages, the `web_pipeline`
    discipline applied to the C4/packing family:

    1. line-structure plant (the `c4_filter` gate formula: 8-token
       lines, terminator/javascript arms, brace + lorem doc plants);
    2. `c4_filter` heuristics -> keep verdicts + cleaned text;
    3. two-crawl union (copies gain a unique trailer line) ->
       `dedup_line_spans` corpus-level span dedup;
    4. `chunk_documents` (16/12) over the span-cleaned text;
    5. `pack_bins_nfd` (128-token bins, 8 md5 buckets) over the
       span-cleaned token counts.

    Every stage is an already-gated kernel; the composition proves the
    hand-offs (clean_text -> line list -> rebuilt text -> token counts
    -> bins).  All five stages are integer/string arithmetic, so the
    gate is bit-exact end-to-end; the oracle replays the chain in one
    CTE stack (c4 verdicts from the plant formulas, span dedup + NFD
    packing replayed algorithmically)."""
    from transcriptomics_data_integration_spark.llmdata.dedup import (
        dedup_line_spans,
    )
    from transcriptomics_data_integration_spark.llmdata.sampling import (
        pack_bins_nfd,
    )
    from transcriptomics_data_integration_spark.llmdata.text import (
        c4_filter,
        chunk_documents,
    )

    docs = _t(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par)  # one-split fan-out (r7 finding)
    toks = F.split(F.trim(F.col("text")), " ")
    lines = F.expr(
        "transform(sequence(1, cast(ceil(size(_t) / 8.0) as int)), i -> "
        "  concat("
        "    array_join(slice(_t, (i - 1) * 8 + 1, 8), ' '),"
        "    CASE WHEN (doc_id + i) % 7 = 0 THEN ' javascript' ELSE '' END,"
        "    CASE WHEN (doc_id + i) % 3 = 1 THEN '.'"
        "         WHEN (doc_id + i) % 3 = 2 THEN '!' ELSE '' END))"
    )
    planted = docs.select(F.col("doc_id"), toks.alias("_t")).select(
        "doc_id",
        F.concat(
            F.array_join(lines, "\n"),
            F.when(F.col("doc_id") % 11 == 0, F.lit("\nvar x = { y }.")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 13 == 0, F.lit("\nLorem ipsum dolor sit amet.")).otherwise(F.lit("")),
        ).alias("text"),
    )
    # kept feeds both union branches and sp feeds three consumers
    # (chunk counts, token counts, final assembly) — persist the
    # bounded narrow relations so each stage runs once (standalone
    # stage sum ~1.2 s vs 8.6 s recomputed, bench r8)
    kept = (
        c4_filter(planted, "doc_id")
        .where(F.col("keep"))
        .select("doc_id", F.col("clean_text").alias("text"))
        .persist()
    )
    register_persisted(kept)
    crawls = kept.unionByName(
        kept.select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat(
                F.col("text"), F.lit("\ncopy marker "), F.col("doc_id")
            ).alias("text"),
        )
    )
    sp = dedup_line_spans(crawls, "doc_id", span_lines=3).persist()
    register_persisted(sp)
    chunks = chunk_documents(
        sp.select("doc_id", F.col("clean_text").alias("text")),
        "doc_id", chunk_tokens=16, stride=12,
    )
    nch = chunks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_chunks"))
    tok_counts = sp.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("clean_text")), "\\s+")).alias("n_tokens"),
    )
    packed = pack_bins_nfd(tok_counts, "doc_id", "n_tokens", seq_len=128, n_buckets=8)
    return (
        sp.select("doc_id", "n_lines", "n_removed")
        .join(nch, "doc_id")
        .join(tok_counts, "doc_id")
        .join(packed.select("doc_id", "bucket", "bin_in_bucket", "pos_in_bin"), "doc_id")
        .select(
            "doc_id",
            F.col("n_lines").cast("bigint").alias("n_lines"),
            F.col("n_removed").cast("bigint").alias("n_removed"),
            F.col("n_chunks").cast("bigint").alias("n_chunks"),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.col("bucket").cast("bigint").alias("bucket"),
            F.col("bin_in_bucket").cast("bigint").alias("bin_in_bucket"),
            F.col("pos_in_bin").cast("int").alias("pos_in_bin"),
        )
    )


ORACLE_CURATION_PIPELINE = """
WITH RECURSIVE arr AS (
  SELECT doc_id, string_split(trim(text), ' ') AS ts FROM documents
), c4lines AS (
  SELECT doc_id,
         UNNEST(list_transform(
           generate_series(1, CAST(ceil(len(ts) / 8.0) AS INTEGER)),
           i -> {'i': i,
                 'txt': array_to_string(ts[(i - 1) * 8 + 1 : i * 8], ' ')
                        || (CASE WHEN (doc_id + i) % 7 = 0
                                 THEN ' javascript' ELSE '' END)
                        || (CASE WHEN (doc_id + i) % 3 = 1 THEN '.'
                                 WHEN (doc_id + i) % 3 = 2 THEN '!'
                                 ELSE '' END),
                 'ok': (doc_id + i) % 3 <> 0 AND (doc_id + i) % 7 <> 0
                       AND least(8, len(ts) - (i - 1) * 8)
                           + (CASE WHEN (doc_id + i) % 7 = 0 THEN 1 ELSE 0 END)
                           >= 3})) AS u
  FROM arr
), kept AS (
  SELECT doc_id,
         string_agg(CASE WHEN u.ok THEN u.txt END, chr(10) ORDER BY u.i) AS clean,
         SUM(CASE WHEN u.ok THEN 1 ELSE 0 END) AS n_kept
  FROM c4lines GROUP BY doc_id
  HAVING SUM(CASE WHEN u.ok THEN 1 ELSE 0 END) >= 3
     AND doc_id % 11 <> 0 AND doc_id % 13 <> 0
), crawls AS (
  SELECT doc_id, string_split(clean, chr(10)) AS ls FROM kept
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         list_append(string_split(clean, chr(10)),
                     'copy marker ' || CAST(doc_id AS VARCHAR)) AS ls
  FROM kept
), flat AS (
  SELECT doc_id, u.i AS i, u.line AS line FROM (
    SELECT doc_id, UNNEST(list_transform(generate_series(1, len(ls)),
                   i -> {'i': i - 1, 'line': ls[i]})) AS u
    FROM crawls
  )
), sflat AS (
  SELECT doc_id, sp.start AS start, sp.dig AS dig FROM (
    SELECT doc_id, UNNEST(
      CASE WHEN len(ls) < 3 THEN []
           ELSE list_transform(generate_series(1, len(ls) - 2),
                s -> {'start': s - 1,
                      'dig': md5(array_to_string(ls[s : s + 2], chr(10)))}) END
    ) AS sp
    FROM crawls
  )
), per_dig AS (
  SELECT dig, COUNT(*) AS n, MIN({'d': doc_id, 's': start}) AS canon
  FROM sflat GROUP BY dig
), dup_cover AS (
  SELECT DISTINCT s.doc_id, UNNEST(generate_series(s.start, s.start + 2)) AS i
  FROM sflat s JOIN per_dig p USING (dig)
  WHERE p.n > 1 AND NOT (s.doc_id = p.canon.d AND s.start = p.canon.s)
), keptl AS (
  SELECT f.doc_id, f.i, f.line
  FROM flat f ANTI JOIN dup_cover d ON f.doc_id = d.doc_id AND f.i = d.i
), rebuilt AS (
  SELECT c.doc_id,
         CAST(len(c.ls) AS BIGINT) AS n_lines,
         CAST(len(c.ls) - COUNT(k.i) AS BIGINT) AS n_removed,
         COALESCE(string_agg(k.line, chr(10) ORDER BY k.i), '') AS clean2
  FROM crawls c LEFT JOIN keptl k USING (doc_id)
  GROUP BY c.doc_id, len(c.ls)
), sized AS (
  SELECT doc_id, n_lines, n_removed,
         CAST(len(string_split_regex(trim(clean2), '\\s+')) AS BIGINT) AS n_tokens
  FROM rebuilt
), chunked AS (
  SELECT doc_id,
         CAST((greatest(n_tokens - 16 + 12, 1) - 1) // 12 + 1 AS BIGINT) AS n_chunks
  FROM sized
), pdocs AS (
  SELECT doc_id, n_tokens AS n,
         ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 8 AS bucket,
         ROW_NUMBER() OVER (
           PARTITION BY ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 8
           ORDER BY n_tokens DESC, doc_id
         ) AS k
  FROM sized
), walk AS (
  SELECT bucket, k, doc_id, n,
         CAST(0 AS BIGINT) AS bin, 0 AS pos,
         CASE WHEN n >= 128 THEN CAST(128 AS BIGINT) ELSE n END AS fill_state
  FROM pdocs WHERE k = 1
  UNION ALL
  SELECT d.bucket, d.k, d.doc_id, d.n,
         CASE WHEN d.n >= 128 OR w.fill_state + d.n > 128
              THEN w.bin + 1 ELSE w.bin END,
         CASE WHEN d.n >= 128 OR w.fill_state + d.n > 128
              THEN 0 ELSE w.pos + 1 END,
         CASE WHEN d.n >= 128 THEN CAST(128 AS BIGINT)
              WHEN w.fill_state + d.n > 128 THEN d.n
              ELSE w.fill_state + d.n END
  FROM walk w JOIN pdocs d ON d.bucket = w.bucket AND d.k = w.k + 1
)
SELECT s.doc_id, s.n_lines, s.n_removed, c.n_chunks, s.n_tokens,
       w.bucket, w.bin AS bin_in_bucket, w.pos AS pos_in_bin
FROM sized s
JOIN chunked c USING (doc_id)
JOIN walk w USING (doc_id)
"""

QUERIES_LLM["curation_pipeline"] = q_curation_pipeline
ORACLES_LLM["curation_pipeline"] = ORACLE_CURATION_PIPELINE


def q_domain_prior(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level quality prior, HASH-GATED (r8,
    `llmdata/urls.py:domain_quality_prior`): per-doc Gopher verdicts
    (`gopher_quality`, already gated) aggregated to planted domains
    (source x doc_id%7 — enough domains that both the small-domain
    exemption and the fraction threshold bind), then applied back to
    every doc.  The domain verdict compares exact integers
    (k*10^6 >= tick*n); the audit fraction rounds 6 dp."""
    from transcriptomics_data_integration_spark.llmdata.text import (
        gopher_quality,
    )
    from transcriptomics_data_integration_spark.llmdata.urls import (
        domain_quality_prior,
    )

    docs = _t(spark, sf_dir, "documents")
    scored = gopher_quality(docs).select("doc_id", "keep")
    with_dom = scored.join(
        docs.select(
            "doc_id",
            F.concat(
                F.col("source"), F.lit("-"), (F.col("doc_id") % 7)
            ).alias("domain"),
        ),
        "doc_id",
    )
    out = domain_quality_prior(
        with_dom, "doc_id", "domain", "keep", min_docs=5,
        keep_frac_threshold=0.5,
    )
    return out.select(
        "doc_id",
        "domain",
        "doc_keep",
        "domain_n",
        F.round("domain_keep_frac", 6).alias("domain_keep_frac"),
        "domain_ok",
        "keep_final",
    )


ORACLE_DOMAIN_PRIOR = f"""
WITH gq AS (
{ORACLE_GOPHER_QUALITY}
), with_dom AS (
  SELECT g.doc_id, g.keep,
         d.source || '-' || CAST(d.doc_id % 7 AS VARCHAR) AS domain
  FROM gq g JOIN documents d USING (doc_id)
), stats AS (
  SELECT domain, CAST(COUNT(*) AS BIGINT) AS domain_n,
         CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS k
  FROM with_dom GROUP BY domain
)
SELECT w.doc_id, w.domain, w.keep AS doc_keep, s.domain_n,
       ROUND(s.k / s.domain_n, 6) AS domain_keep_frac,
       (s.domain_n < 5 OR s.k * 1000000 >= 500000 * s.domain_n) AS domain_ok,
       w.keep AND (s.domain_n < 5 OR s.k * 1000000 >= 500000 * s.domain_n)
         AS keep_final
FROM with_dom w JOIN stats s USING (domain)
"""

QUERIES_LLM["domain_prior"] = q_domain_prior
ORACLES_LLM["domain_prior"] = ORACLE_DOMAIN_PRIOR


# --- unigram-LM tokenizer training (r9) ---------------------------------


def _unigram_fold_sql(max_piece_len: int = 4) -> str:
    """The DuckDB twin of the Spark Viterbi aggregate() fold
    (`llmdata/bpe.py:_unigram_dp_sql`): list_reduce over positions with
    a correlated piece->microcost map ``mp``, identical packed-string
    DP states and byte-wise least() tie-break."""

    def cand(l: int) -> str:
        prev = f"acc[CAST(x[1] AS INTEGER) - {l - 1}]"
        piece = f"substr(w, CAST(x[1] AS INTEGER) - {l - 1}, {l})"
        lens = f"string_split({prev}, ':')[3]"
        return f"""coalesce(
      CASE WHEN CAST(x[1] AS INTEGER) >= {l} THEN
        lpad(CAST(CAST(string_split({prev}, ':')[1] AS BIGINT)
             + mp[{piece}][1] AS VARCHAR), 12, '0')
        || ':' || lpad(CAST(CAST(string_split({prev}, ':')[2] AS INTEGER) + 1 AS VARCHAR), 2, '0')
        || ':' || CASE WHEN {lens} = '' THEN '{l}' ELSE {lens} || '-{l}' END
      END, 'Z')"""

    cands = ", ".join(cand(l) for l in range(1, max_piece_len + 1))
    return f"""list_reduce(
  list_prepend(['000000000000:00:'], list_transform(generate_series(1, length(w)), i -> [CAST(i AS VARCHAR)])),
  (acc, x) -> acc || [least({cands})]
)[length(w) + 1]"""


def _unigram_oracle_ctes(
    vocab_size: int = 40,
    max_piece_len: int = 4,
    n_iters: int = 2,
    n_seed: int = 120,
    max_word_len: int = 12,
) -> str:
    """The shared CTE chain replaying `llmdata/bpe.py:unigram_train_fixed`
    in DuckDB: seed candidates, then each hard-EM iteration's Viterbi
    fold, ending at ``pfin`` = the pruned, re-scored final piece
    table."""

    def ml(x: str) -> str:
        return f"CAST(ROUND(LN(CAST({x} AS DOUBLE)) * 1000000, 0) AS BIGINT)"

    fold = _unigram_fold_sql(max_piece_len)

    def scored(src: str, name: str) -> str:
        return f""", {name} AS (
  SELECT piece, count, ml_t - {ml("count")} AS cost_micro
  FROM {src}, (SELECT {ml("SUM(count)")} AS ml_t FROM {src})
)"""

    parts = [f"""WITH w0 AS (
  SELECT t AS w, CAST(COUNT(*) AS BIGINT) AS wc
  FROM documents, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS u(t)
  WHERE t <> '' AND length(t) <= {max_word_len} GROUP BY t
), c0 AS (
  SELECT piece, CAST(SUM(wc) AS BIGINT) AS count FROM (
    SELECT wc, substr(w, CAST(i AS INTEGER), CAST(l AS INTEGER)) AS piece
    FROM w0,
         unnest(generate_series(1, length(w))) AS t1(i),
         unnest(generate_series(1, least({max_piece_len}, length(w) - i + 1))) AS t2(l)
  ) GROUP BY piece
), chars AS (
  SELECT piece, count FROM c0 WHERE length(piece) = 1
), multi AS (
  SELECT piece, count FROM c0 WHERE length(piece) >= 2
  ORDER BY count DESC, piece LIMIT {n_seed}
), k0 AS (
  SELECT piece, count FROM chars UNION ALL SELECT piece, count FROM multi
)"""]
    parts.append(scored("k0", "p0"))
    for it in range(1, n_iters + 1):
        prev = f"p{it - 1}"
        parts.append(f""", m{it} AS (
  SELECT map_from_entries(list(struct_pack(k := piece, v := cost_micro))) AS mp
  FROM {prev}
), s{it} AS (
  SELECT w, wc, string_split({fold}, ':')[3] AS lens
  FROM w0 CROSS JOIN m{it}
), e{it} AS (
  SELECT substr(w, CAST(1 + COALESCE(SUM(l) OVER (
           PARTITION BY w ORDER BY k
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INTEGER),
         l) AS piece, wc
  FROM (
    SELECT w, wc, i AS k, CAST(ll[CAST(i AS INTEGER)] AS INTEGER) AS l
    FROM (SELECT w, wc, string_split(lens, '-') AS ll FROM s{it}),
         unnest(generate_series(1, len(ll))) AS t(i)
  )
), u{it} AS (
  SELECT piece, CAST(SUM(wc) AS BIGINT) AS count FROM e{it} GROUP BY piece
), k{it} AS (
  SELECT COALESCE(c.piece, u.piece) AS piece,
         CASE WHEN c.piece IS NOT NULL
              THEN GREATEST(COALESCE(u.count, 0), 1)
              ELSE u.count END AS count
  FROM chars c FULL OUTER JOIN u{it} u ON c.piece = u.piece
  WHERE c.piece IS NOT NULL OR u.count IS NOT NULL
)""")
        parts.append(scored(f"k{it}", f"p{it}"))
    parts.append(f""", rankedm AS (
  SELECT piece, count, ROW_NUMBER() OVER (ORDER BY count DESC, piece) AS rn
  FROM p{n_iters} WHERE length(piece) >= 2
), kfin AS (
  SELECT piece, count FROM p{n_iters} WHERE length(piece) = 1
  UNION ALL
  SELECT piece, count FROM rankedm
  WHERE rn <= {vocab_size} - (SELECT COUNT(*) FROM chars)
)""")
    parts.append(scored("kfin", "pfin"))
    return "".join(parts)


def q_unigram_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer training (SentencePiece family, Kudo 2018),
    HASH-GATED — fixed-iteration hard-EM over the distinct-word table
    (`llmdata/bpe.py:unigram_train_fixed`): substring seeding, two
    Viterbi-E / re-score-M rounds on integer microlog costs, prune to
    the vocab budget.  Every output column is integer or string; the
    oracle replays the DP fold with DuckDB list_reduce."""
    from transcriptomics_data_integration_spark.llmdata.bpe import unigram_train_fixed

    docs = _t(spark, sf_dir, "documents")
    return unigram_train_fixed(docs, "text", vocab_size=40, n_iters=2, n_seed=120)


ORACLE_UNIGRAM_TRAIN = _unigram_oracle_ctes() + """
SELECT piece, CAST(length(piece) AS INTEGER) AS piece_len, count, cost_micro
FROM pfin
"""


def q_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer train -> APPLY, end-to-end HASH-GATED (the bpe_encode
    discipline): the vocabulary learned by `unigram_train_fixed` is
    applied by `unigram_encode`'s word-keyed Viterbi join — the DP
    runs once per DISTINCT word; documents see one equi-join plus a
    map-side aggregation.  Pins per doc the token count, tokenized
    chars, and multi-char token count; the oracle re-trains AND
    re-applies in DuckDB, so a hash match proves train and apply agree
    across engines."""
    from transcriptomics_data_integration_spark.llmdata.bpe import (
        unigram_encode,
        unigram_train_fixed,
    )

    docs = _t(spark, sf_dir, "documents")
    pieces = unigram_train_fixed(docs, "text", vocab_size=40, n_iters=2, n_seed=120)
    return unigram_encode(docs, pieces)


ORACLE_UNIGRAM_ENCODE = _unigram_oracle_ctes() + """
, mfin AS (
  SELECT map_from_entries(list(struct_pack(k := piece, v := cost_micro))) AS mp
  FROM pfin
), doc_words AS (
  SELECT doc_id, t AS w
  FROM documents, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS u(t)
  WHERE t <> '' AND length(t) <= 12
), sfin AS (
  SELECT w, string_split(""" + _unigram_fold_sql() + """, ':')[3] AS lens
  FROM (SELECT DISTINCT w FROM doc_words) CROSS JOIN mfin
)
SELECT doc_id,
       CAST(SUM(len(string_split(lens, '-'))) AS BIGINT) AS n_tokens,
       CAST(SUM(length(w)) AS BIGINT) AS n_chars_tok,
       CAST(SUM(len(list_filter(string_split(lens, '-'), x -> x <> '1'))) AS BIGINT)
         AS n_multi_tokens
FROM doc_words JOIN sfin USING (w)
GROUP BY doc_id
"""

QUERIES_LLM["unigram_train"] = q_unigram_train
ORACLES_LLM["unigram_train"] = ORACLE_UNIGRAM_TRAIN
QUERIES_LLM["unigram_encode"] = q_unigram_encode
ORACLES_LLM["unigram_encode"] = ORACLE_UNIGRAM_ENCODE


# --- FLAC frame decode (r9) ---------------------------------------------


def q_flac_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL FLAC frame decode, HASH-GATED (r9) — closes the r8
    header-only FLAC boundary: per doc a full FLAC file (STREAMINFO +
    one 64-sample mono 16-bit frame) is written by
    `llmdata/multimodal.py:encode_flac_frames` and decoded by the
    independent bit-reader `decode_flac_frames` (frame-header sync +
    CRC-8, subframe decode, Rice residuals with zigzag fold, inverse
    fixed predictor, CRC-16 — RFC 9639 layouts).  Four planted arms by
    doc_id%4 exercise every subframe path: CONSTANT, VERBATIM, FIXED
    order 1 (linear signal), FIXED order 2 (quadratic signal).  The
    oracle recomputes the amplitude moments AND the exact encoded
    frame byte count (header + warmup + Rice quotient/remainder bits)
    from the plant formulas alone — a hash match proves predictor,
    zigzag, Rice framing, and both CRC walks end-to-end."""
    import pandas as pd

    from transcriptomics_data_integration_spark.llmdata.multimodal import (
        decode_flac_frames,
        encode_flac_frames,
    )

    N = 64

    def op(batches):
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                arm = did % 4
                if arm == 0:
                    samples = [(did % 2000) - 1000] * N
                    sub = "constant"
                elif arm == 1:
                    samples = [((did * 3 + i * 7) % 65536) - 32768 for i in range(N)]
                    sub = "verbatim"
                elif arm == 2:
                    samples = [
                        ((did % 50 + 1) * i) % 32768 - 16384 for i in range(N)
                    ]
                    sub = "fixed1"
                else:
                    samples = [
                        ((did % 30 + 1) * (i * (i - 1) // 2)) % 32768 - 16384
                        for i in range(N)
                    ]
                    sub = "fixed2"
                d = decode_flac_frames(encode_flac_frames(samples, subframe=sub))
                if d is None:
                    continue
                rows.append(
                    (
                        did, d["subframe"], d["predictor_order"], d["n_samples"],
                        d["frame_bytes"], d["sum_amp"], d["sum_sq"],
                        d["min_amp"], d["max_amp"],
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "subframe", "predictor_order", "n_samples",
                    "frame_bytes", "sum_amp", "sum_sq", "min_amp", "max_amp",
                ],
            )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    # r11 (guide §2.5 input parallelism): the per-doc encode+decode
    # bit-walk is the whole query and runs on the scan's splits — a
    # single-file corpus serializes every FLAC decode in ONE Python
    # worker.  Round-robin the narrow doc_id relation first (no-op on
    # a many-split corpus; per-row pure function, partitioning-
    # invariant).  Sub-second sibling gates (wav/mp4/header) stay
    # unrepartitioned — there the shuffle costs more than it saves
    # (the r7 dedup_exact lesson).
    par = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par)
    return docs.mapInPandas(
        op,
        schema=(
            "media_id bigint, subframe string, predictor_order int, "
            "n_samples int, frame_bytes int, sum_amp bigint, sum_sq bigint, "
            "min_amp int, max_amp int"
        ),
    )


def _oracle_flac_decode() -> str:
    # closed-form signals per arm (i = 0..63); residual zigzag -> Rice
    # bits replayed as pure integer arithmetic (k = 12 -> u//4096 + 13)
    s1 = "((doc_id * 3 + i * 7) % 65536) - 32768"
    s2 = "((doc_id % 50 + 1) * i) % 32768 - 16384"
    s2p = "((doc_id % 50 + 1) * (i - 1)) % 32768 - 16384"
    s3 = "((doc_id % 30 + 1) * (i * (i - 1) // 2)) % 32768 - 16384"
    s3p = "((doc_id % 30 + 1) * ((i - 1) * (i - 2) // 2)) % 32768 - 16384"
    s3pp = "((doc_id % 30 + 1) * ((i - 2) * (i - 3) // 2)) % 32768 - 16384"
    zz = "CASE WHEN r >= 0 THEN 2 * r ELSE -2 * r - 1 END"
    return f"""
WITH grid AS (
  SELECT d.doc_id, d.doc_id % 4 AS arm, i.i AS i
  FROM documents d, (SELECT unnest(generate_series(0, 63)) AS i) i
), sig AS (
  SELECT doc_id, arm, i,
         CASE arm
           WHEN 0 THEN (doc_id % 2000) - 1000
           WHEN 1 THEN {s1}
           WHEN 2 THEN {s2}
           ELSE {s3}
         END AS s,
         CASE WHEN arm = 2 AND i >= 1 THEN ({s2}) - ({s2p})
              WHEN arm = 3 AND i >= 2 THEN ({s3}) - 2 * ({s3p}) + ({s3pp})
         END AS r
  FROM grid
), rice AS (
  SELECT doc_id, CAST(SUM(({zz}) // 4096 + 13) AS BIGINT) AS rice_bits
  FROM sig WHERE r IS NOT NULL GROUP BY doc_id
), agg AS (
  SELECT doc_id, arm,
         CAST(SUM(s) AS BIGINT) AS sum_amp,
         CAST(SUM(s * s) AS BIGINT) AS sum_sq,
         CAST(MIN(s) AS INTEGER) AS min_amp,
         CAST(MAX(s) AS INTEGER) AS max_amp
  FROM sig GROUP BY doc_id, arm
)
SELECT a.doc_id AS media_id,
       CASE a.arm WHEN 0 THEN 'constant' WHEN 1 THEN 'verbatim'
                  WHEN 2 THEN 'fixed1' ELSE 'fixed2' END AS subframe,
       CAST(CASE a.arm WHEN 2 THEN 1 WHEN 3 THEN 2 ELSE 0 END AS INTEGER)
         AS predictor_order,
       CAST(64 AS INTEGER) AS n_samples,
       CAST(CASE a.arm
         WHEN 0 THEN 12
         WHEN 1 THEN 138
         WHEN 2 THEN 9 + (8 + 16 + 10 + r.rice_bits + 7) // 8
         ELSE 9 + (8 + 32 + 10 + r.rice_bits + 7) // 8
       END AS INTEGER) AS frame_bytes,
       a.sum_amp, a.sum_sq, a.min_amp, a.max_amp
FROM agg a LEFT JOIN rice r USING (doc_id)
"""


QUERIES_LLM["flac_decode"] = q_flac_decode
ORACLES_LLM["flac_decode"] = _oracle_flac_decode()


# --- perceptual image near-dup (r9) ---------------------------------------


def q_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-duplicate detection, HASH-GATED (r9) —
    the image-modality member of the dedup family: per doc a REAL
    16x18 RGB PNG (planted gray formula with a family-dependent
    QUADRATIC term — g = (m*(r*19 + c*7 + 1) + (m*m % 251)*r*c) % 256
    with m = (doc//2) % 997 + 3: a purely linear formula has a
    constant horizontal gradient per family mod 256, collapsing the
    corpus to ~256 distinct dHash patterns, the dup-storm degeneracy
    the r9 scale probe caught — so doc pairs (2k, 2k+1) share a
    distinct base image and odd docs get one +128 pixel perturbation
    at (6, 9)) is encoded by the real PNG
    writer, decoded back by the CRC-verified chunk walker, dHashed
    (`llmdata/multimodal.py:dhash_bits` — 8x8 nearest-neighbor
    sampled-luma grid, 7 adjacent-column gradient bits per row), and
    fed to the banded hamming self-join (`dhash_neardup_pairs`).  The
    oracle recomputes the 56-bit hash (the 64-bit layout was rejected
    for signed-int64 safety) from the gray formula alone (it never
    touches PNG bytes) and replays the same banding + bit_count(xor)
    verify, so a hash match proves codec round-trip, luma downsample,
    bit packing, banding, and hamming end-to-end.  Planted (2k, 2k+1)
    pairs differ by the perturbed grid cell's gradient bits only."""
    import numpy as np
    import pandas as pd

    from transcriptomics_data_integration_spark.llmdata.multimodal import (
        dhash_neardup_pairs,
        encode_png,
        image_dhash,
    )

    H, W = 16, 18

    def op(batches):
        r = np.arange(H).reshape(-1, 1)
        c = np.arange(W).reshape(1, -1)
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                m = (did // 2) % 997 + 3
                g = (m * (r * 19 + c * 7 + 1) + (m * m % 251) * r * c) % 256
                if did % 2 == 1:
                    g = g.copy()
                    g[6, 9] = (g[6, 9] + 128) % 256
                px = np.repeat(g.astype(np.uint8)[:, :, None], 3, axis=2)
                rows.append((did, bytearray(encode_png(px))))
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    par = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par)
    images = docs.mapInPandas(op, schema="doc_id long, payload binary")
    hashes = image_dhash(images, "doc_id")
    return dhash_neardup_pairs(hashes, "doc_id", max_hamming=6)


ORACLE_IMAGE_DHASH = """
WITH grid AS (
  SELECT d.doc_id, r.r, c.c,
         ((((d.doc_id // 2) % 997 + 3)
           * ((2 * r.r) * 19 + ((c.c * 18) // 8) * 7 + 1)
           + ((((d.doc_id // 2) % 997 + 3) * ((d.doc_id // 2) % 997 + 3)) % 251)
             * (2 * r.r) * ((c.c * 18) // 8)) % 256
          + CASE WHEN d.doc_id % 2 = 1 AND r.r = 3 AND (c.c * 18) // 8 = 9
                 THEN 128 ELSE 0 END
         ) % 256 AS luma
  FROM documents d,
       (SELECT unnest(generate_series(0, 7)) AS r) r,
       (SELECT unnest(generate_series(0, 7)) AS c) c
), bits AS (
  SELECT a.doc_id, a.r, a.c,
         CASE WHEN a.luma < b.luma THEN 1 ELSE 0 END AS bit
  FROM grid a JOIN grid b
    ON a.doc_id = b.doc_id AND a.r = b.r AND b.c = a.c + 1
  WHERE a.c < 7
), hashes AS (
  SELECT doc_id,
         CAST(SUM(bit * (CAST(1 AS BIGINT) << (r * 7 + c))) AS BIGINT) AS dhash
  FROM bits GROUP BY doc_id
), banded AS (
  SELECT doc_id, dhash, b.band,
         (dhash // (CAST(1 AS BIGINT) << (b.band * 14))) % 16384 AS band_key
  FROM hashes, (SELECT unnest(generate_series(0, 3)) AS band) b
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.dhash, b.dhash)) AS INTEGER) AS hamming
FROM banded a JOIN banded b
  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.dhash, b.dhash)) <= 6
"""

QUERIES_LLM["image_dhash"] = q_image_dhash
ORACLES_LLM["image_dhash"] = ORACLE_IMAGE_DHASH


# --- perceptual audio near-dup (r9) ---------------------------------------


def q_audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual audio near-duplicate detection, HASH-GATED (r9) —
    completes the modality-dedup triple (text SimHash/MinHash, image
    dHash, audio envelope hash): per doc a REAL 116-sample PCM16 WAV
    (planted waveform s(i) = (((doc//2) % 997 + 3) * (i*13 + 7)) %
    2048 - 1024, doc pairs (2k, 2k+1) sharing a base clip with odd
    docs getting one +900 sample edit at i=50) is written by the real
    RIFF writer, decoded back by the chunk walker, envelope-hashed
    (`llmdata/multimodal.py:audio_envelope_bits` — 29 equal frames of
    integer |amplitude| energy, 28 adjacent-frame delta bits), and
    fed to the banded hamming self-join (`dhash_neardup_pairs`,
    4x7-bit bands, max_hamming=3 < n_bands so recall is
    pigeonhole-EXACT).  The oracle recomputes the hash from the
    waveform formula alone (never touching WAV bytes) and replays the
    banding + bit_count(xor) verify."""
    import numpy as np
    import pandas as pd

    from transcriptomics_data_integration_spark.llmdata.multimodal import (
        audio_envelope_hash,
        dhash_neardup_pairs,
        encode_wav,
    )

    N = 116

    def op(batches):
        i = np.arange(N, dtype=np.int64)
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                s = (((did // 2) % 997 + 3) * (i * 13 + 7)) % 2048 - 1024
                if did % 2 == 1:
                    s = s.copy()
                    s[50] += 900
                rows.append(
                    (did, bytearray(encode_wav(s.astype(np.int16), rate=8000)))
                )
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    par = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par)
    clips = docs.mapInPandas(op, schema="doc_id long, payload binary")
    hashes = audio_envelope_hash(clips, "doc_id")
    return dhash_neardup_pairs(
        hashes, "doc_id", hash_col="ahash", max_hamming=3, n_bands=4, n_bits=28
    )


ORACLE_AUDIO_NEARDUP = """
WITH env AS (
  SELECT d.doc_id, f.f,
         SUM(ABS((((d.doc_id // 2) % 997 + 3) * ((f.f * 4 + k.k) * 13 + 7)) % 2048 - 1024
             + CASE WHEN d.doc_id % 2 = 1 AND f.f * 4 + k.k = 50
                    THEN 900 ELSE 0 END)) AS energy
  FROM documents d,
       (SELECT unnest(generate_series(0, 28)) AS f) f,
       (SELECT unnest(generate_series(0, 3)) AS k) k
  GROUP BY d.doc_id, f.f
), bits AS (
  SELECT a.doc_id, a.f,
         CASE WHEN a.energy < b.energy THEN 1 ELSE 0 END AS bit
  FROM env a JOIN env b ON a.doc_id = b.doc_id AND b.f = a.f + 1
  WHERE a.f < 28
), hashes AS (
  SELECT doc_id,
         CAST(SUM(bit * (CAST(1 AS BIGINT) << f)) AS BIGINT) AS ahash
  FROM bits GROUP BY doc_id
), banded AS (
  SELECT doc_id, ahash, b.band,
         (ahash // (CAST(1 AS BIGINT) << (b.band * 7))) % 128 AS band_key
  FROM hashes, (SELECT unnest(generate_series(0, 3)) AS band) b
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.ahash, b.ahash)) AS INTEGER) AS hamming
FROM banded a JOIN banded b
  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.ahash, b.ahash)) <= 3
"""

QUERIES_LLM["audio_neardup"] = q_audio_neardup
ORACLES_LLM["audio_neardup"] = ORACLE_AUDIO_NEARDUP


# --- WordPiece merge training (r9) ----------------------------------------


def q_wordpiece_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece tokenizer training, HASH-GATED (r9,
    `llmdata/bpe.py:wordpiece_train_fixed`): the BPE loop with the
    BERT-family likelihood-ratio merge score
    count(a,b)/(count(a)*count(b)) — four iterations of pair counting
    + per-symbol counting, deterministic top-1 on (score DESC, lhs,
    rhs), greedy left fold.  Output columns are all integers (the
    score orders internally as one IEEE division of integer counts —
    engine-identical); the oracle unrolls the iterations into CTEs
    with the same fold and the same ranking."""
    from transcriptomics_data_integration_spark.llmdata.bpe import (
        wordpiece_train_fixed,
    )

    docs = _t(spark, sf_dir, "documents")
    return wordpiece_train_fixed(docs, "text", n_merges=4)


def _oracle_wordpiece_merges(n_merges: int = 4) -> str:
    fold = (
        "CASE WHEN len(s) <= 1 THEN s ELSE "
        "list_reduce(list_prepend([s[1]], "
        "list_transform(generate_series(2, len(s)), j -> [s[j]])), "
        "(acc, x) -> CASE WHEN acc[-1] = a AND x[1] = b "
        "THEN acc[1:len(acc)-1] || [a || b] "
        "ELSE acc || x END) END"
    )
    parts = ["""
WITH w0 AS (
  SELECT t AS w, COUNT(*) AS wc
  FROM documents, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS u(t)
  WHERE t <> '' GROUP BY t
), s0 AS (
  SELECT wc, list_transform(generate_series(1, length(w)), i -> substr(w, i, 1)) AS s
  FROM w0
)"""]
    for r in range(1, n_merges + 1):
        parts.append(f""", sym{r} AS (
  SELECT u.sym, CAST(SUM(wc) AS BIGINT) AS sc
  FROM s{r - 1}, unnest(s) AS u(sym) GROUP BY u.sym
), p{r} AS (
  SELECT s[i] AS a, s[i + 1] AS b, CAST(SUM(wc) AS BIGINT) AS c
  FROM s{r - 1}, unnest(generate_series(1, len(s) - 1)) AS t(i)
  GROUP BY 1, 2
), b{r} AS (
  SELECT p.a, p.b, p.c, ca.sc AS ca, cb.sc AS cb
  FROM p{r} p JOIN sym{r} ca ON p.a = ca.sym JOIN sym{r} cb ON p.b = cb.sym
  ORDER BY CAST(p.c AS DOUBLE) / (ca.sc * cb.sc) DESC, p.a, p.b LIMIT 1
), s{r} AS (
  SELECT wc, {fold} AS s FROM s{r - 1} CROSS JOIN b{r}
)""")
    selects = [
        f"SELECT {r} AS merge_rank, a AS lhs, b AS rhs, a || b AS merged, "
        f"c AS pair_count, ca AS lhs_count, cb AS rhs_count FROM b{r}"
        for r in range(1, n_merges + 1)
    ]
    parts.append("\n" + "\nUNION ALL\n".join(selects))
    return "".join(parts)


QUERIES_LLM["wordpiece_merges"] = q_wordpiece_merges
ORACLES_LLM["wordpiece_merges"] = _oracle_wordpiece_merges()


# --- capacity-scaled perceptual near-dup (r10) -----------------------------


def q_image_dhash_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capacity-scaled perceptual image near-dup, HASH-GATED (r10) —
    the multi-word profile that removes the 56-bit/14-bit-band
    capacity ceiling flagged by the r9 verdict: the same planted
    16x18 PNG corpus as `q_image_dhash` (quadratic-term gray formula,
    odd docs perturbed at (6, 9)) hashed by
    `llmdata/multimodal.py:dhash_words` (8 bands x 16 gradient bits
    from an 8x17 sampled-luma grid — the array element IS the band
    key) and paired by `hamming_neardup_pairs_wide` (posexplode band
    join + zip_with/bit_count verify).  The oracle recomputes the
    eight 16-bit words from the gray formula alone (16x18 at grid
    8x17 samples image row 2r, column c) and replays the band join +
    per-band xor popcount sum, proving codec, multi-word packing,
    array banding, and segmented hamming end-to-end.  Planted (2k,
    2k+1) pairs differ in <= 2 bits of band 3 only, so pigeonhole
    recall is exact with 7 bands to spare."""
    import numpy as np
    import pandas as pd

    from transcriptomics_data_integration_spark.llmdata.multimodal import (
        encode_png,
        hamming_neardup_pairs_wide,
        image_dhash_wide,
    )

    H, W = 16, 18

    def op(batches):
        r = np.arange(H).reshape(-1, 1)
        c = np.arange(W).reshape(1, -1)
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                m = (did // 2) % 997 + 3
                g = (m * (r * 19 + c * 7 + 1) + (m * m % 251) * r * c) % 256
                if did % 2 == 1:
                    g = g.copy()
                    g[6, 9] = (g[6, 9] + 128) % 256
                px = np.repeat(g.astype(np.uint8)[:, :, None], 3, axis=2)
                rows.append((did, bytearray(encode_png(px))))
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    par = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par)
    images = docs.mapInPandas(op, schema="doc_id long, payload binary")
    hashes = image_dhash_wide(images, "doc_id")
    # n_words=8: the wide profile emits fixed 8-word fingerprints, so
    # the verify fold unrolls to codegen (identical integer sums)
    return hamming_neardup_pairs_wide(hashes, "doc_id", max_hamming=6, n_words=8)


ORACLE_IMAGE_DHASH_WIDE = """
WITH grid AS (
  SELECT d.doc_id, r.r, c.c,
         ((((d.doc_id // 2) % 997 + 3)
           * ((2 * r.r) * 19 + c.c * 7 + 1)
           + ((((d.doc_id // 2) % 997 + 3) * ((d.doc_id // 2) % 997 + 3)) % 251)
             * (2 * r.r) * c.c) % 256
          + CASE WHEN d.doc_id % 2 = 1 AND r.r = 3 AND c.c = 9
                 THEN 128 ELSE 0 END
         ) % 256 AS luma
  FROM documents d,
       (SELECT unnest(generate_series(0, 7)) AS r) r,
       (SELECT unnest(generate_series(0, 16)) AS c) c
), bits AS (
  SELECT a.doc_id, a.r, a.c,
         CASE WHEN a.luma < b.luma THEN 1 ELSE 0 END AS bit
  FROM grid a JOIN grid b
    ON a.doc_id = b.doc_id AND a.r = b.r AND b.c = a.c + 1
  WHERE a.c < 16
), words AS (
  SELECT doc_id, r AS band,
         CAST(SUM(bit * (CAST(1 AS BIGINT) << c)) AS BIGINT) AS band_key
  FROM bits GROUP BY doc_id, r
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM words a JOIN words b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
), ham AS (
  SELECT c.id_a, c.id_b,
         CAST(SUM(bit_count(xor(wa.band_key, wb.band_key))) AS INTEGER) AS hamming
  FROM cand c
  JOIN words wa ON wa.doc_id = c.id_a
  JOIN words wb ON wb.doc_id = c.id_b AND wb.band = wa.band
  GROUP BY c.id_a, c.id_b
)
SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 6
"""

QUERIES_LLM["image_dhash_wide"] = q_image_dhash_wide
ORACLES_LLM["image_dhash_wide"] = ORACLE_IMAGE_DHASH_WIDE


def q_audio_neardup_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capacity-scaled perceptual audio near-dup, HASH-GATED (r10) —
    the multi-word envelope profile replacing the r9 observation that
    28-bit hashes saturate past ~1e5 clips: a planted 387-sample
    PCM16 corpus (the `q_audio_neardup` waveform family extended so
    the 129 frames hold exactly 3 samples each — frame boundaries
    3f in BOTH engines; odd docs get one +900 edit at i=150, inside
    frame 50 -> bits 49/50 of band 3 only) through the real WAV
    codec, `audio_envelope_words` (128 delta bits as 8x16-bit band
    words) and `hamming_neardup_pairs_wide`.  The oracle recomputes
    energies by grouping i//3 and replays the band join + segmented
    popcount."""
    import numpy as np
    import pandas as pd

    from transcriptomics_data_integration_spark.llmdata.multimodal import (
        audio_envelope_hash_wide,
        encode_wav,
        hamming_neardup_pairs_wide,
    )

    N = 387

    def op(batches):
        i = np.arange(N, dtype=np.int64)
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                s = (((did // 2) % 997 + 3) * (i * 13 + 7)) % 2048 - 1024
                if did % 2 == 1:
                    s = s.copy()
                    s[150] += 900
                rows.append(
                    (did, bytearray(encode_wav(s.astype(np.int16), rate=8000)))
                )
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    par = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par)
    clips = docs.mapInPandas(op, schema="doc_id long, payload binary")
    hashes = audio_envelope_hash_wide(clips, "doc_id")
    # n_words=8: fixed-width wide profile -> unrolled codegen verify
    return hamming_neardup_pairs_wide(hashes, "doc_id", max_hamming=3, n_words=8)


ORACLE_AUDIO_NEARDUP_WIDE = """
WITH env AS (
  SELECT d.doc_id, i.i // 3 AS f,
         SUM(ABS((((d.doc_id // 2) % 997 + 3) * (i.i * 13 + 7)) % 2048 - 1024
             + CASE WHEN d.doc_id % 2 = 1 AND i.i = 150
                    THEN 900 ELSE 0 END)) AS energy
  FROM documents d,
       (SELECT unnest(generate_series(0, 386)) AS i) i
  GROUP BY d.doc_id, i.i // 3
), bits AS (
  SELECT a.doc_id, a.f,
         CASE WHEN a.energy < b.energy THEN 1 ELSE 0 END AS bit
  FROM env a JOIN env b ON a.doc_id = b.doc_id AND b.f = a.f + 1
  WHERE a.f < 128
), words AS (
  SELECT doc_id, f // 16 AS band,
         CAST(SUM(bit * (CAST(1 AS BIGINT) << (f % 16))) AS BIGINT) AS band_key
  FROM bits GROUP BY doc_id, f // 16
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM words a JOIN words b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
), ham AS (
  SELECT c.id_a, c.id_b,
         CAST(SUM(bit_count(xor(wa.band_key, wb.band_key))) AS INTEGER) AS hamming
  FROM cand c
  JOIN words wa ON wa.doc_id = c.id_a
  JOIN words wb ON wb.doc_id = c.id_b AND wb.band = wa.band
  GROUP BY c.id_a, c.id_b
)
SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 3
"""

QUERIES_LLM["audio_neardup_wide"] = q_audio_neardup_wide
ORACLES_LLM["audio_neardup_wide"] = ORACLE_AUDIO_NEARDUP_WIDE


def q_video_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual VIDEO near-dup, HASH-GATED (r10) — the fourth and
    final member of the modality-dedup family (text SimHash/MinHash,
    image dHash, audio envelope, video frame-hash): per doc a REAL
    8-frame MJPEG-AVI whose 16x136 gray frames tile from 2x17
    CONSTANT 8x8 blocks v(f,bi,bj) = (m*(f*53 + bi*37 + bj*17 + 1) +
    (m*m % 251)*f*bj) % 256, m = (doc//2) % 997 + 3 (the quadratic
    family term from the r9 de-degeneracy lesson) — constant tiles
    survive the lossy JPEG pipeline bit-exactly under all-ones quant,
    so the oracle recomputes every frame word from the tile formula
    alone.  Odd docs perturb ONE tile (frame 3, sampled tile row 0,
    column 9: +128), flipping <= 2 gradient bits of frame 3's word
    only.  The fingerprint is `video_phash_wide`'s per-frame 16-bit
    dHash word array (frame = band; the 1x17 luma grid samples pixel
    columns 8c — exactly the tile starts), paired by
    `hamming_neardup_pairs_wide(max_hamming=3)`: planted pairs agree
    on 7 of 8 frames, so recall is pigeonhole-exact.  A hash match
    proves AVI demux, per-frame JPEG round-trip, frame sampling,
    per-frame hashing, array banding, and segmented hamming
    end-to-end."""
    import numpy as np
    import pandas as pd

    from transcriptomics_data_integration_spark.llmdata.multimodal import (
        encode_avi_mjpeg,
        hamming_neardup_pairs_wide,
        video_phash_wide,
    )

    NF, BH, BW = 8, 2, 17

    def op(batches):
        bi = np.arange(BH).reshape(-1, 1)
        bj = np.arange(BW).reshape(1, -1)
        ones = np.ones((8, 8), dtype=np.uint8)
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                m = (did // 2) % 997 + 3
                frames = []
                for f in range(NF):
                    v = (m * (f * 53 + bi * 37 + bj * 17 + 1)
                         + (m * m % 251) * f * bj) % 256
                    if did % 2 == 1 and f == 3:
                        v = v.copy()
                        v[0, 9] = (v[0, 9] + 128) % 256
                    frames.append(np.kron(v.astype(np.uint8), ones))
                rows.append((did, bytearray(encode_avi_mjpeg(frames, fps=12))))
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    par = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par)
    vids = docs.mapInPandas(op, schema="doc_id long, payload binary")
    hashes = video_phash_wide(vids, "doc_id", n_frames=NF)
    # n_words=NF: one word per sampled frame by contract -> unrolled verify
    return hamming_neardup_pairs_wide(hashes, "doc_id", max_hamming=3, n_words=NF)


ORACLE_VIDEO_NEARDUP = """
WITH grid AS (
  SELECT d.doc_id, f.f, c.c,
         ((((d.doc_id // 2) % 997 + 3)
           * (f.f * 53 + c.c * 17 + 1)
           + ((((d.doc_id // 2) % 997 + 3) * ((d.doc_id // 2) % 997 + 3)) % 251)
             * f.f * c.c) % 256
          + CASE WHEN d.doc_id % 2 = 1 AND f.f = 3 AND c.c = 9
                 THEN 128 ELSE 0 END
         ) % 256 AS luma
  FROM documents d,
       (SELECT unnest(generate_series(0, 7)) AS f) f,
       (SELECT unnest(generate_series(0, 16)) AS c) c
), bits AS (
  SELECT a.doc_id, a.f, a.c,
         CASE WHEN a.luma < b.luma THEN 1 ELSE 0 END AS bit
  FROM grid a JOIN grid b
    ON a.doc_id = b.doc_id AND a.f = b.f AND b.c = a.c + 1
  WHERE a.c < 16
), words AS (
  SELECT doc_id, f AS band,
         CAST(SUM(bit * (CAST(1 AS BIGINT) << c)) AS BIGINT) AS band_key
  FROM bits GROUP BY doc_id, f
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM words a JOIN words b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
), ham AS (
  SELECT c.id_a, c.id_b,
         CAST(SUM(bit_count(xor(wa.band_key, wb.band_key))) AS INTEGER) AS hamming
  FROM cand c
  JOIN words wa ON wa.doc_id = c.id_a
  JOIN words wb ON wb.doc_id = c.id_b AND wb.band = wa.band
  GROUP BY c.id_a, c.id_b
)
SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 3
"""

QUERIES_LLM["video_neardup"] = q_video_neardup
ORACLES_LLM["video_neardup"] = ORACLE_VIDEO_NEARDUP


# --- TFRecord / tf.Example codec (r10) -------------------------------------


def q_tfrecord_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TFRecord/tf.Example codec, HASH-GATED (r10) — the canonical
    TensorFlow training-data container joins the source/sink surface
    (`sources/tfrecord.py`): per doc a REAL 3-record TFRecord stream
    (masked-CRC-32C framing; each record a hand-wire-format
    tf.Example with int64 features doc_id/chunk/vals — negatives
    exercise the full 10-byte varint — and one formula-length bytes
    feature) is encoded, then independently decoded back
    (`tfrecord_decode_examples`: framing walk, BOTH masked CRCs
    verified per record, proto parse) and reduced to integer-exact
    per-record rows.  The oracle recomputes every output from the
    plant formulas alone — it never touches TFRecord bytes — so a
    hash match proves CRC-32C, framing, varint/length-delimited wire
    coding, and map-entry round-trip end-to-end."""
    import pandas as pd

    from transcriptomics_data_integration_spark.sources.tfrecord import (
        encode_example,
        encode_tfrecord,
        tfrecord_decode_examples,
    )

    def op(batches):
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                recs = []
                for r in range(3):
                    ln = (did + r) % 7 + 1
                    recs.append(
                        encode_example(
                            {
                                "doc_id": [did],
                                "chunk": [r],
                                "vals": [
                                    (did * 7 + r * 13 + k * 29) % 1000 - 500
                                    for k in range(1, 5)
                                ],
                                "payload": [
                                    bytes((did + r + j) % 256 for j in range(ln))
                                ],
                            }
                        )
                    )
                rows.append((did, bytearray(encode_tfrecord(recs))))
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    par = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par)
    streams = docs.mapInPandas(op, schema="doc_id long, payload binary")
    return tfrecord_decode_examples(streams, "doc_id")


ORACLE_TFRECORD = """
WITH recs AS (
  SELECT d.doc_id, r.r AS rec_no
  FROM documents d, (SELECT unnest(generate_series(0, 2)) AS r) r
)
SELECT doc_id, CAST(rec_no AS INTEGER) AS rec_no,
       CAST(3 AS INTEGER) AS n_records,
       CAST(4 AS INTEGER) AS n_features,
       CAST(doc_id + rec_no
            + ((doc_id * 7 + rec_no * 13 + 29) % 1000 - 500)
            + ((doc_id * 7 + rec_no * 13 + 58) % 1000 - 500)
            + ((doc_id * 7 + rec_no * 13 + 87) % 1000 - 500)
            + ((doc_id * 7 + rec_no * 13 + 116) % 1000 - 500)
         AS BIGINT) AS sum_int64,
       CAST(1 AS INTEGER) AS n_bytes_vals,
       CAST((doc_id + rec_no) % 7 + 1 AS BIGINT) AS bytes_len
FROM recs
"""

QUERIES_LLM["tfrecord_roundtrip"] = q_tfrecord_roundtrip
ORACLES_LLM["tfrecord_roundtrip"] = ORACLE_TFRECORD


def q_video_offset_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offset-tolerant video near-dup, HASH-GATED (r11, VERDICT item
    7): the r10 `video_neardup` fingerprint bands on frame POSITION,
    so a one-frame delay defeats every band — this gate PLANTS exactly
    that failure and requires the value-band + shift-swept tier
    (`multimodal.video_neardup_offset_tolerant`) to recover it.  Per
    doc pair (2k, 2k+1): the even doc's 8 frames tile from the same
    constant-block formula as `video_neardup` (v(f) = T(m, f), 16x136
    gray, 2x17 8x8-constant tiles — bit-exact through the lossy JPEG
    pipeline, so the oracle replays frame words from the formula
    alone); the ODD doc is the even doc DELAYED one frame (frame 0 =
    alien content T(m, 9), frame f = T(m, f-1) for f >= 1) with one
    +128 tile edit in its copy of T(m, 2) — position-locked hamming is
    large at every band, but the min-4-distinct-word anchor join finds
    the pair and the shift sweep aligns it at s = +-1 with hamming
    <= 2.  The oracle replays anchors (row_number over distinct
    words), the value-band candidate join, and the shift-swept
    alignment minimum in DuckDB."""
    import numpy as np
    import pandas as pd

    from transcriptomics_data_integration_spark.llmdata.multimodal import (
        encode_avi_mjpeg,
        video_neardup_offset_tolerant,
        video_phash_wide,
    )

    NF, BH, BW = 8, 2, 17

    def op(batches):
        bi = np.arange(BH).reshape(-1, 1)
        bj = np.arange(BW).reshape(1, -1)
        ones = np.ones((8, 8), dtype=np.uint8)

        def tile(m, f):
            return (m * (f * 53 + bi * 37 + bj * 17 + 1)
                    + (m * m % 251) * f * bj) % 256

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                m = (did // 2) % 997 + 3
                frames = []
                for f in range(NF):
                    src = f if did % 2 == 0 else (9 if f == 0 else f - 1)
                    v = tile(m, src)
                    if did % 2 == 1 and src == 2:
                        v = v.copy()
                        v[0, 9] = (v[0, 9] + 128) % 256
                    frames.append(np.kron(v.astype(np.uint8), ones))
                rows.append((did, bytearray(encode_avi_mjpeg(frames, fps=12))))
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    par = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par)
    vids = docs.mapInPandas(op, schema="doc_id long, payload binary")
    hashes = video_phash_wide(vids, "doc_id", n_frames=NF)
    # n_frames=NF: every fingerprint is exactly NF words (the
    # video_phash_wide contract), so the shift-swept verify unrolls to
    # codegen'd bit_count sums — identical integers, no HOF lambda
    out = video_neardup_offset_tolerant(
        hashes, "doc_id", max_hamming=3, n_frames=NF
    )
    return out.select(
        "id_a", "id_b",
        F.col("best_shift").cast("int").alias("best_shift"),
        F.col("hamming").cast("int").alias("hamming"),
    )


ORACLE_VIDEO_OFFSET_NEARDUP = """
WITH src AS (
  SELECT d.doc_id, f.f,
         CASE WHEN d.doc_id % 2 = 0 THEN f.f
              WHEN f.f = 0 THEN 9 ELSE f.f - 1 END AS sf
  FROM documents d, (SELECT unnest(generate_series(0, 7)) AS f) f
), grid AS (
  SELECT s.doc_id, s.f, c.c,
         ((((s.doc_id // 2) % 997 + 3)
           * (s.sf * 53 + c.c * 17 + 1)
           + ((((s.doc_id // 2) % 997 + 3) * ((s.doc_id // 2) % 997 + 3)) % 251)
             * s.sf * c.c) % 256
          + CASE WHEN s.doc_id % 2 = 1 AND s.sf = 2 AND c.c = 9
                 THEN 128 ELSE 0 END
         ) % 256 AS luma
  FROM src s, (SELECT unnest(generate_series(0, 16)) AS c) c
), bits AS (
  SELECT a.doc_id, a.f, a.c,
         CASE WHEN a.luma < b.luma THEN 1 ELSE 0 END AS bit
  FROM grid a JOIN grid b
    ON a.doc_id = b.doc_id AND a.f = b.f AND b.c = a.c + 1
  WHERE a.c < 16
), words AS (
  SELECT doc_id, f AS band,
         CAST(SUM(bit * (CAST(1 AS BIGINT) << c)) AS BIGINT) AS band_key
  FROM bits GROUP BY doc_id, f
), anch AS (
  SELECT doc_id, band_key AS word FROM (
    SELECT doc_id, band_key,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY band_key) AS rk
    FROM (SELECT DISTINCT doc_id, band_key FROM words)
  ) WHERE rk <= 4
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM anch a JOIN anch b ON a.word = b.word AND a.doc_id < b.doc_id
), shifted AS (
  SELECT c.id_a, c.id_b, s.s,
         CAST(SUM(bit_count(xor(wa.band_key, wb.band_key))) AS INTEGER) AS h
  FROM cand c, (SELECT unnest(generate_series(-1, 1)) AS s) s
  JOIN words wa ON wa.doc_id = c.id_a
  JOIN words wb ON wb.doc_id = c.id_b
   AND wa.band - wb.band = s.s
  GROUP BY c.id_a, c.id_b, s.s
), best AS (
  SELECT id_a, id_b, s AS best_shift, h AS hamming,
         ROW_NUMBER() OVER (
           PARTITION BY id_a, id_b ORDER BY h ASC, s ASC
         ) AS rn
  FROM shifted
)
SELECT id_a, id_b,
       CAST(best_shift AS INTEGER) AS best_shift,
       CAST(hamming AS INTEGER) AS hamming
FROM best WHERE rn = 1 AND hamming <= 3
"""

QUERIES_LLM["video_offset_neardup"] = q_video_offset_neardup
ORACLES_LLM["video_offset_neardup"] = ORACLE_VIDEO_OFFSET_NEARDUP
