"""Cache hygiene of the public operators: whatever a call persists goes
through ``runtime.register_persisted``, so once its action has run,
``cleanup_persisted()`` leaves the session's CacheManager empty.  An
unregistered ``.cache()`` would outlive the query and be silently read
by a later call on the same input.  The dedup pair operators and the
closed-platform DE chain give each relation one consumer, so they
persist nothing (DE keeps only the eBayes prior's per-gene input)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from transcriptomics_data_integration_spark.llmdata.dedup import (
    dedup_clusters,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
)
from transcriptomics_data_integration_spark.pipelines import meta_analysis
from transcriptomics_data_integration_spark.pipelines.diffexpr import (
    differential_expression,
)
from transcriptomics_data_integration_spark.runtime import cleanup_persisted
from transcriptomics_data_integration_spark.stats.bh import p_adjust
from transcriptomics_data_integration_spark.stats.combat import combat_eb_fixed
from transcriptomics_data_integration_spark.stats.permutation import permutation_fdr


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


def _de_inputs(spark):
    """60 genes x 16 samples in 2 batches; each batch holds both groups."""
    rnd = random.Random(7)
    rows = [
        (f"g{g:03d}", f"s{j}",
         round(8 + 0.05 * g + (1.5 if j % 2 == 0 and g < 10 else 0.0)
               + 0.7 * ((j // 2) % 2) + rnd.gauss(0, 1), 2))
        for g in range(60)
        for j in range(16)
    ]
    expr = spark.createDataFrame(rows, "gene_id string, sample_id string, value double")
    targets = spark.createDataFrame(
        [(f"s{j}", "T" if j % 2 == 0 else "N", f"d{(j // 2) % 2}") for j in range(16)],
        "sample_id string, target string, dataset string",
    )
    return expr, targets


def _closed_de(spark):
    expr, targets = _de_inputs(spark)
    return differential_expression(
        expr, targets, "T", "N", top_k_genes=30, batch_adjust="center", exact_scale=2
    )


def _combat_cells(spark):
    """80 genes x 18 samples in 3 shifted batches."""
    rnd = random.Random(3)
    rows = [
        (f"g{g}", f"{b}_s{s}", b, round(100 + 10 * rnd.gauss(0, 1) + shift + g * 0.1, 2))
        for g in range(80)
        for b, shift in (("b0", 0.0), ("b1", 3.0), ("b2", -2.0))
        for s in range(6)
    ]
    return spark.createDataFrame(rows, "gene_id string, sample_id string, batch string, value double")


def _combat(spark):
    return combat_eb_fixed(_combat_cells(spark), "gene_id", "sample_id", "batch", "value")


def _permutation_fdr(spark):
    cells = _combat_cells(spark).where(F.col("gene_id").rlike("^g[0-9]$"))
    labeled = cells.withColumn(
        "grp", F.when(F.col("sample_id").rlike("_s[012]$"), "A").otherwise("B")
    )
    return permutation_fdr(labeled, "gene_id", "sample_id", "grp", "value", "A", "B", n_perm=10)


# (operator, builder of the DataFrame its action collects, whether it caches)
CASES = [
    ("minhash_lsh_pairs_all", lambda s: dedup_clusters(minhash_lsh_pairs(_docs(s), "doc_id", expand="all")), False),
    ("minhash_lsh_pairs_star", lambda s: dedup_clusters(minhash_lsh_pairs(_docs(s), "doc_id", expand="star")), False),
    ("ngram_jaccard_pairs", lambda s: ngram_jaccard_pairs(_docs(s), "doc_id"), False),
    ("meta_analysis", _meta, False),
    ("p_adjust", _p_adjust, True),
    ("combat_eb_fixed", _combat, False),
    ("permutation_fdr", _permutation_fdr, False),
    # squeeze_var_fitfdist persists the per-gene eBayes input its
    # eager prior collects read
    ("differential_expression", _closed_de, True),
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


def _cold_jobs(spark, group, build):
    """(collected rows, Spark jobs run) of ``build()`` from a cold cache."""
    sc = spark.sparkContext
    spark.catalog.clearCache()
    cleanup_persisted()
    sc.setJobGroup(group, group)
    try:
        rows = build().collect()
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        cleanup_persisted()
    return rows, len(jobs)


def test_minhash_lsh_pairs_star_clusters_in_few_jobs(spark):
    """Clustering the star edges runs a bounded number of Spark jobs
    from a cold cache: no relation is built once for several consumers
    (the cached form ran 32 jobs here, 17 of them cache builds)."""
    rows, jobs = _cold_jobs(
        spark, "minhash_lsh_pairs_jobs",
        lambda: dedup_clusters(minhash_lsh_pairs(_docs(spark), "doc_id", expand="star")),
    )
    assert jobs <= 12, jobs
    # docs 0-3 are exact duplicates of each other, 4-6 near duplicates of them
    assert {r["doc_id"]: r["canonical_id"] for r in rows} == {i: 0 for i in range(7)}


def test_closed_platform_de_in_few_jobs(spark):
    """Batch centring, F5 and the pooled t read each gene-bounded
    relation once, and the sample sheet is checked in one job (the
    cached form ran 29 jobs here)."""
    rows, jobs = _cold_jobs(spark, "closed_de_jobs", lambda: _closed_de(spark))
    assert jobs <= 22, jobs
    assert len(rows) == 30


def test_combat_eb_fixed_in_few_jobs(spark):
    """The EB moments, priors and fixed point are one window chain over
    the per-(gene, batch) relation (the cached form ran 15 jobs here)."""
    rows, jobs = _cold_jobs(spark, "combat_eb_fixed_jobs", lambda: _combat(spark))
    assert jobs <= 10, jobs
    assert len(rows) == 80 * 18
