"""Cache hygiene of the public operators: whatever a call persists goes
through ``runtime.register_persisted``, so once its action has run,
``cleanup_persisted()`` leaves the session's CacheManager empty.  An
unregistered ``.cache()`` would outlive the query and be silently read
by a later call on the same input.  The near-duplicate pair operators
(one banded-pairs kernel), the closed-platform DE chain and the
TSV -> meta-analysis -> BH chain give each relation one consumer, so
they persist nothing (DE keeps only the eBayes prior's per-gene
input)."""

from __future__ import annotations

import random
import re
from functools import reduce

import numpy as np
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from transcriptomics_data_integration_spark.llmdata.dedup import (
    connected_components,
    dedup_clusters,
    edit_distance_pairs,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_neardup_pairs,
)
from transcriptomics_data_integration_spark.llmdata.multimodal import (
    dhash_neardup_pairs,
    encode_avi_mjpeg,
    encode_png,
    hamming_neardup_pairs_wide,
    image_dhash,
    image_dhash_wide,
    video_neardup_offset_tolerant,
    video_phash_wide,
)
from transcriptomics_data_integration_spark.llmdata.similarity import cosine_neardup_pairs
from transcriptomics_data_integration_spark.operators.filters import zero_variance_filter
from transcriptomics_data_integration_spark.pipelines import meta_analysis
from transcriptomics_data_integration_spark.pipelines.diffexpr import (
    differential_expression,
)
from transcriptomics_data_integration_spark.runtime import cleanup_persisted
from transcriptomics_data_integration_spark.sources import read_matrix_tsv, write_matrix_tsv
from transcriptomics_data_integration_spark.stats.bh import p_adjust
from transcriptomics_data_integration_spark.stats.combat import combat_eb_fixed
from transcriptomics_data_integration_spark.stats.permutation import permutation_fdr


def _docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again "
    rows = [(i, base * 2) for i in range(4)]  # exact duplicates
    rows += [(i, base * 2 + f"tail{i}") for i in range(4, 7)]  # near duplicates
    rows += [(i, f"an unrelated text number {i} " * 3) for i in range(7, 10)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _values(spark, rows, columns):
    """``rows`` as a VALUES relation, whose size Catalyst knows, as it
    knows a file's (an RDD-backed ``createDataFrame`` has no estimate)."""
    cells = ", ".join(
        "(" + ", ".join(repr(v) if isinstance(v, str) else f"{v!r}D" for v in r) + ")" for r in rows
    )
    return spark.sql(f"SELECT * FROM VALUES {cells} AS t({', '.join(columns)})")


def _meta(spark):
    rows, trows = [], []
    for pl in ("P1", "P2"):
        for j in range(6):
            s = f"{pl}_s{j}"
            trows.append((s, "T" if j < 3 else "N"))
            for g in range(5):
                rows.append((f"g{g}", s, pl, 5.0 + g + 0.3 * ((j * 7 + g) % 5)))
    expr = _values(spark, rows, ["gene_id", "sample_id", "platform", "value"])
    targets = _values(spark, trows, ["sample_id", "target"])
    return meta_analysis(expr, targets, "T", "N", with_icc=False)


def _bh_on_meta(spark):
    # the sheet is collected, not joined, so the meta table's size
    # estimate is its own (one row per gene) and BH takes the window
    # arm without persisting the table to measure it
    return p_adjust(_meta(spark), "p_comb", "adj_p_comb", tiebreak_col="gene_id")


def _meta_chain(spark, tmp_path):
    """The meta_tsv iteration on two tiny platforms: read both TSVs,
    write the merged matrix, F4 zero-variance filter, meta-analysis,
    BH.  The first platform has one gene of its own and one of zero
    variance."""
    parts = []
    for pl, genes in (("P1", 6), ("P2", 5)):
        samples = [f"{pl}_s{j}" for j in range(6)]
        lines = ["\t" + "\t".join(samples)]
        for g in range(genes):
            cells = [5.0 if g == 5 else 5.0 + g + 0.3 * ((j * 7 + g) % 5) for j in range(6)]
            lines.append(f"g{g}\t" + "\t".join(map(str, cells)))
        path = tmp_path / f"{pl}.tsv"
        path.write_text("\n".join(lines) + "\n")
        parts.append(read_matrix_tsv(spark, str(path)).withColumn("platform", F.lit(pl)))
    expr = reduce(DataFrame.unionByName, parts)
    write_matrix_tsv(expr.drop("platform"), str(tmp_path / "merged"))
    targets = spark.createDataFrame(
        [(f"{pl}_s{j}", "T" if j < 3 else "N") for pl in ("P1", "P2") for j in range(6)],
        "sample_id string, target string",
    )
    meta = meta_analysis(zero_variance_filter(expr, "gene_id", "value"), targets, "T", "N", with_icc=False)
    return p_adjust(meta, "p_comb", "adj_p_comb", tiebreak_col="gene_id")


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


def _images(spark):
    """A gradient image, a brightened copy, a one-pixel edit and an
    unrelated image, as PNG payloads."""
    r = np.arange(16).reshape(-1, 1)
    c = np.arange(18).reshape(1, -1)
    base = (5 * (r * 19 + c * 7 + 1) + 3 * r * c) % 200
    edited = base.copy()
    edited[6, 9] += 90
    other = (11 * (r * 5 + c * 13 + 3) + 7 * r * r) % 200
    rows = [
        (i, bytearray(encode_png(np.repeat(np.clip(g, 0, 255).astype(np.uint8)[:, :, None], 3, axis=2))))
        for i, g in enumerate([base, base + 40, edited, other], start=1)
    ]
    return spark.createDataFrame(rows, "doc_id long, payload binary")


def _clips(spark):
    """An 8-frame MJPEG clip, its one-frame delay and an unrelated clip."""
    ones = np.ones((8, 8), dtype=np.uint8)

    def frames(seed, n=8):
        rng = np.random.RandomState(seed)
        return [np.kron(rng.randint(0, 256, (2, 17)).astype(np.uint8), ones) for _ in range(n)]

    base = frames(7)
    clips = {1: base, 2: frames(555, 1) + base[:-1], 3: frames(99)}
    return spark.createDataFrame(
        [(i, bytearray(encode_avi_mjpeg(fs, fps=12))) for i, fs in clips.items()],
        "doc_id long, payload binary",
    )


def _vectors(spark):
    """40 unit vectors and a slightly shifted copy of each."""
    rnd = random.Random(11)
    base = []
    for i in range(40):
        v = [rnd.gauss(0, 1) for _ in range(16)]
        n = sum(x * x for x in v) ** 0.5
        base.append((i, [x / n for x in v]))
    planted = [(i + 1000, [x + 1e-4 for x in v]) for i, v in base]
    return spark.createDataFrame(base + planted, "vec_id long, embedding array<double>")


def _words(spark):
    words = ["spark", "spork", "sparks", "shuffle", "shufle", "shovel", "join", "joins"]
    return spark.createDataFrame(list(enumerate(words)), "id long, w string")


# every near-duplicate pair operator, each through the banded-pairs
# kernel: (family, builder of the DataFrame its action collects)
NEARDUP = [
    ("minhash_lsh_pairs_all", lambda s: dedup_clusters(minhash_lsh_pairs(_docs(s), "doc_id", expand="all"))),
    ("minhash_lsh_pairs_star", lambda s: dedup_clusters(minhash_lsh_pairs(_docs(s), "doc_id", expand="star"))),
    ("simhash_neardup_pairs_all", lambda s: dedup_clusters(simhash_neardup_pairs(_docs(s), "doc_id", expand="all"))),
    ("simhash_neardup_pairs_star", lambda s: dedup_clusters(simhash_neardup_pairs(_docs(s), "doc_id", expand="star"))),
    ("edit_distance_pairs", lambda s: edit_distance_pairs(_words(s), "id", "w")),
    ("dhash_neardup_pairs", lambda s: dhash_neardup_pairs(image_dhash(_images(s), "doc_id"), "doc_id")),
    (
        "hamming_neardup_pairs_wide",
        lambda s: hamming_neardup_pairs_wide(image_dhash_wide(_images(s), "doc_id"), "doc_id", n_words=8),
    ),
    (
        "video_neardup_offset_tolerant",
        lambda s: video_neardup_offset_tolerant(video_phash_wide(_clips(s), "doc_id"), "doc_id", n_frames=8),
    ),
    (
        "cosine_neardup_pairs",
        lambda s: cosine_neardup_pairs(_vectors(s), threshold=0.999, n_planes=8, n_bands=4, dim=16),
    ),
]

# (operator, builder of the DataFrame its action collects, whether it caches)
CASES = [
    *[(name, build, False) for name, build in NEARDUP],
    ("ngram_jaccard_pairs", lambda s: ngram_jaccard_pairs(_docs(s), "doc_id"), False),
    ("meta_analysis", _meta, False),
    ("p_adjust_on_meta_analysis", _bh_on_meta, False),
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
    """(collected rows, Spark jobs run, relations left persisted) of
    ``build()`` from a cold cache."""
    sc = spark.sparkContext
    spark.catalog.clearCache()
    cleanup_persisted()
    sc.setJobGroup(group, group)
    try:
        rows = build().collect()
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        persisted = cleanup_persisted()
    return rows, len(jobs), persisted


def _plan_nodes(df, node):
    """(collected rows, occurrences of ``node`` in ``df``'s final
    adaptive plan, occurrences in its initial plan).  A reused exchange
    is one line in the final plan, so the first count is the number of
    times the node ran; the initial plan is planned before any exchange
    is reused."""
    rows = df.collect()
    final, initial = df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")
    return rows, final.count(node), initial.count(node)


# Spark jobs each family's builder runs from a cold cache (the MinHash
# and SimHash builders include dedup_clusters).  A persist adds jobs,
# so a bound at the measured count keeps every family cache-free; the
# persisted forms ran 5 (dHash), 5 (wide), 9 (video) and 6 (cosine).
NEARDUP_JOBS = {
    "minhash_lsh_pairs_all": 8,
    "minhash_lsh_pairs_star": 6,
    "simhash_neardup_pairs_all": 6,
    "simhash_neardup_pairs_star": 7,
    "edit_distance_pairs": 4,
    "dhash_neardup_pairs": 4,
    "hamming_neardup_pairs_wide": 4,
    "video_neardup_offset_tolerant": 4,
    "cosine_neardup_pairs": 4,
}


@pytest.mark.parametrize("name,build", NEARDUP, ids=[n for n, _ in NEARDUP])
def test_neardup_pairs_in_few_jobs(spark, name, build):
    rows, jobs, _ = _cold_jobs(spark, f"{name}_jobs", lambda: build(spark))
    assert rows
    assert jobs <= NEARDUP_JOBS[name], jobs


@pytest.mark.parametrize("expand", ["all", "star"])
def test_minhash_hashes_on_every_shuffle_partition(spark, tmp_path, expand):
    """A one-file corpus scans in one task and shuffles a few KB, so
    AQE would coalesce the digest exchange to one partition and the
    stage that shingles and hashes the representatives would run one
    task.  That exchange is a repartition by number, which AQE leaves
    at ``spark.sql.shuffle.partitions``: every digest exchange in the
    final plan has that many partitions and no coalescing read."""
    path = str(tmp_path / "docs")
    _docs(spark).coalesce(1).write.parquet(path)
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert n > 1
    sc = spark.sparkContext
    group = f"minhash_{expand}_stages"
    sc.setJobGroup(group, group)
    try:
        pairs = minhash_lsh_pairs(spark.read.parquet(path), "doc_id", expand=expand)
        assert pairs.collect()
        tracker = sc.statusTracker()
        stages = [s for j in tracker.getJobIdsForGroup(group) for s in tracker.getJobInfo(j).stageIds]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert max(tracker.getStageInfo(s).numTasks for s in stages) >= n
    final = pairs._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    lines = final.splitlines()
    digest = [i for i, line in enumerate(lines) if "Exchange hashpartitioning(_digest#" in line]
    assert digest
    for i in digest:
        assert re.search(rf"hashpartitioning\(_digest#\d+, {n}\), REPARTITION_BY_NUM", lines[i])
        # the exchange's query stage, then the operator reading it
        assert "ShuffleQueryStage" in lines[i - 1]
        assert "AQEShuffleRead" not in lines[i - 2]


@pytest.mark.parametrize(
    "build",
    [
        lambda d: minhash_lsh_pairs(d, "doc_id", expand="all"),
        lambda d: minhash_lsh_pairs(d, "doc_id", expand="star"),
        lambda d: simhash_neardup_pairs(d, "doc_id", expand="star"),
    ],
    ids=["minhash_all", "minhash_star", "simhash_star"],
)
def test_representative_branches_share_one_scan(spark, tmp_path, build):
    """The representatives, the star edges and the member expansion
    all filter one digest-tagged relation on columns the digest window
    does not partition by, so no filter is pushed below the window,
    every branch reads the same digest exchange, and the final plan
    scans the corpus once (null digests filtered on ``_digest`` gave
    the edges and members an exchange and a scan of their own)."""
    path = str(tmp_path / "docs")
    _docs(spark).coalesce(1).write.parquet(path)
    rows, scans, _ = _plan_nodes(build(spark.read.parquet(path)), "FileScan parquet")
    assert rows
    assert scans == 1, scans


def test_connected_components_reads_its_edges_once(spark):
    """Both orientations of each edge come from one read of the edge
    relation: a row-counting UDF over the edges runs once per edge row
    (a self-union of the edges ran it twice per row)."""
    seen = spark.sparkContext.accumulator(0)

    def tick(x):
        seen.add(1)
        return x

    edges = spark.sql("SELECT * FROM VALUES (1, 2), (2, 3), (4, 5), (6, 6) AS t(id_a, id_b)")
    counted = edges.select(F.udf(tick, "int")("id_a").alias("id_a"), "id_b")
    rows = connected_components(counted).collect()
    assert {(r["node"], r["component"]) for r in rows} == {
        (1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 6)
    }
    assert seen.value == 4


def test_dedup_clusters_driver_arm_runs_no_job_after_the_closure(spark):
    """On the driver arm, dedup_clusters runs three Spark jobs from a
    cold cache: the distinct's shuffle stage and the checkpoint of the
    symmetric edges, then the collect of one orientation.  The cluster
    sizes come from the union-find mapping, so the decision table is a
    local relation whose collect runs no job (the size window over it
    ran 2 more)."""
    edges = spark.sql("SELECT * FROM VALUES (1, 2), (2, 3), (4, 5), (6, 6) AS t(id_a, id_b)")
    rows, jobs, persisted = _cold_jobs(spark, "dedup_clusters_driver_jobs", lambda: dedup_clusters(edges))
    assert sorted(tuple(r) for r in rows) == [
        (1, 1, 3), (2, 1, 3), (3, 1, 3), (4, 4, 2), (5, 4, 2), (6, 6, 1)
    ]
    assert jobs == 3, jobs
    assert persisted == 0


def test_dhash_pairs_decode_each_image_once(spark, tmp_path):
    """Both sides of the band self-join read one exchange, so the image
    codec runs once even on a parquet input, where Spark broadcasts one
    side of the join and would otherwise plan the codec twice."""
    path = str(tmp_path / "images")
    _images(spark).write.parquet(path)
    pairs = dhash_neardup_pairs(image_dhash(spark.read.parquet(path), "doc_id"), "doc_id")
    rows, codecs, _ = _plan_nodes(pairs, "MapInPandas")
    assert {(r["id_a"], r["id_b"]) for r in rows} >= {(1, 2), (1, 3)}
    assert codecs == 1


def test_permutation_fdr_reads_facts_twice(spark, tmp_path):
    """The permuted labels come from one read of the facts' labels (the
    collected sample sheet, whose deck each row reads one element of —
    no self-join), and the t statistics read the facts once more: the
    query's own plan holds one scan (the self-join form planned 3)."""
    path = str(tmp_path / "cells")
    rows = [
        (f"g{g}", f"s{j}", "A" if j < 5 else "B", 10.0 + g + (j * 7 + g) % 5 + (2.0 if j < 5 else 0.0))
        for g in range(4)
        for j in range(10)
    ]
    spark.createDataFrame(rows, "gene_id string, sample_id string, grp string, value double").coalesce(
        1
    ).write.parquet(path)
    cells = spark.read.parquet(path)
    assert cells.count() == 40
    out = permutation_fdr(cells, "gene_id", "sample_id", "grp", "value", "A", "B", n_perm=10)
    rows, scans, planned = _plan_nodes(out, "FileScan parquet")
    assert len(rows) == 4
    assert scans == 1 and planned == 1, (scans, planned)


def test_minhash_lsh_pairs_star_clusters_in_few_jobs(spark):
    """Clustering the star edges runs a bounded number of Spark jobs
    from a cold cache: no relation is built once for several consumers
    (the cached form ran 32 jobs here, 17 of them cache builds)."""
    rows, jobs, _ = _cold_jobs(
        spark, "minhash_lsh_pairs_jobs",
        lambda: dedup_clusters(minhash_lsh_pairs(_docs(spark), "doc_id", expand="star")),
    )
    assert jobs <= 6, jobs
    # docs 0-3 are exact duplicates of each other, 4-6 near duplicates of them
    assert {r["doc_id"]: r["canonical_id"] for r in rows} == {i: 0 for i in range(7)}


def test_closed_platform_de_in_few_jobs(spark):
    """Batch centring, F5 and the pooled t read each gene-bounded
    relation once, and one collect of the sample sheet both labels the
    cells and checks the batches (the cached form ran 29 jobs here, the
    broadcast-joined sheet 15)."""
    rows, jobs, _ = _cold_jobs(spark, "closed_de_jobs", lambda: _closed_de(spark))
    assert jobs <= 11, jobs
    assert len(rows) == 30


def test_combat_eb_fixed_in_few_jobs(spark):
    """The EB moments, priors and fixed point are one window chain over
    the per-(gene, batch) relation (the cached form ran 15 jobs here)."""
    rows, jobs, _ = _cold_jobs(spark, "combat_eb_fixed_jobs", lambda: _combat(spark))
    assert jobs <= 10, jobs
    assert len(rows) == 80 * 18


def test_meta_tsv_chain_in_few_jobs(spark, tmp_path):
    """Two TSV reads, the merged write, the F4 filter, meta-analysis
    and BH, from a cold cache: the header lines are read on the driver,
    the sheet is collected once instead of joined, and the meta table
    is sorted in the one partition the BH windows read, so nothing is
    persisted and no job only measures or samples (the joined,
    globally sorted form ran 18 jobs here and persisted the table)."""
    rows, jobs, persisted = _cold_jobs(spark, "meta_tsv_chain_jobs", lambda: _meta_chain(spark, tmp_path))
    assert jobs <= 9, jobs
    assert persisted == 0
    assert sorted(r["gene_id"] for r in rows) == [f"g{g}" for g in range(5)]
    assert all(r["adj_p_comb"] >= r["p_comb"] for r in rows)
