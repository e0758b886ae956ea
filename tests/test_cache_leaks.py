"""Cache hygiene of the public operators: whatever a call persists goes
through ``runtime.register_persisted``, so once its action has run,
``cleanup_persisted()`` leaves the session's CacheManager empty.  An
unregistered ``.cache()`` would outlive the query and be silently read
by a later call on the same input.  The dedup pair operators give each
relation one consumer and persist nothing at all."""

from __future__ import annotations

import random

import pytest

from transcriptomics_data_integration_spark.llmdata.dedup import (
    dedup_clusters,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
)
from transcriptomics_data_integration_spark.pipelines import meta_analysis
from transcriptomics_data_integration_spark.runtime import cleanup_persisted
from transcriptomics_data_integration_spark.stats.bh import p_adjust


def _docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again "
    rows = [(i, base * 2) for i in range(4)]  # exact duplicates
    rows += [(i, base * 2 + f"tail{i}") for i in range(4, 7)]  # near duplicates
    rows += [(i, f"an unrelated text number {i} " * 3) for i in range(7, 10)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _meta(spark):
    rows, trows = [], []
    for pl in ("P1", "P2"):
        for j in range(6):
            s = f"{pl}_s{j}"
            trows.append((s, "T" if j < 3 else "N"))
            for g in range(5):
                rows.append((f"g{g}", s, pl, 5.0 + g + 0.3 * ((j * 7 + g) % 5)))
    expr = spark.createDataFrame(rows, "gene_id string, sample_id string, platform string, value double")
    targets = spark.createDataFrame(trows, "sample_id string, target string")
    return meta_analysis(expr, targets, "T", "N", with_icc=False)


def _p_adjust(spark):
    # a join multiplies Catalyst's size-only estimate far past the
    # single-task size, so p_adjust persists its input to measure it
    rnd = random.Random(5)
    ps = spark.createDataFrame([(i, rnd.random()) for i in range(2000)], "id int, p double")
    tags = spark.createDataFrame([(i, i % 3) for i in range(2000)], "id int, tag int")
    return p_adjust(ps.join(tags, "id"), "p")


# (operator, builder of the DataFrame its action collects, whether it caches)
CASES = [
    ("minhash_lsh_pairs_all", lambda s: dedup_clusters(minhash_lsh_pairs(_docs(s), "doc_id", expand="all")), False),
    ("minhash_lsh_pairs_star", lambda s: dedup_clusters(minhash_lsh_pairs(_docs(s), "doc_id", expand="star")), False),
    ("ngram_jaccard_pairs", lambda s: ngram_jaccard_pairs(_docs(s), "doc_id"), False),
    ("meta_analysis", _meta, False),
    ("p_adjust", _p_adjust, True),
]


@pytest.mark.parametrize("build,caches", [c[1:] for c in CASES], ids=[c[0] for c in CASES])
def test_cleanup_persisted_empties_cache_manager(spark, build, caches):
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    cleanup_persisted()
    assert build(spark).collect()
    # the case reaches its persist sites, or registers none at all
    assert cache_manager.isEmpty() is not caches
    assert (cleanup_persisted() > 0) is caches
    assert cache_manager.isEmpty()


def test_minhash_lsh_pairs_star_clusters_in_few_jobs(spark):
    """Clustering the star edges runs a bounded number of Spark jobs
    from a cold cache: no relation is built once for several consumers
    (the cached form ran 32 jobs here, 17 of them cache builds)."""
    sc = spark.sparkContext
    spark.catalog.clearCache()
    cleanup_persisted()
    sc.setJobGroup("minhash_lsh_pairs_jobs", "minhash_lsh_pairs")
    try:
        rows = dedup_clusters(minhash_lsh_pairs(_docs(spark), "doc_id", expand="star")).collect()
        jobs = sc.statusTracker().getJobIdsForGroup("minhash_lsh_pairs_jobs")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(jobs) <= 12, len(jobs)
    # docs 0-3 are exact duplicates of each other, 4-6 near duplicates of them
    assert {r["doc_id"]: r["canonical_id"] for r in rows} == {i: 0 for i in range(7)}
