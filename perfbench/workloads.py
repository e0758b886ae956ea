"""The benchmark workloads: how each drives the program's public entry
points, in two forms.

- ``run``: what a user writes -- the pipeline functions composed, ended
  by one collect (and, for ``meta_tsv``, one TSV write).  This is the
  timed iteration.
- ``traced``: the same work for the traced run.  ``meta_tsv`` first
  makes a *pipeline pass*: it calls ``meta_analysis`` once and collects
  its output, giving the pipeline's construction time, eager jobs and
  action time.  The *layer pass* then calls, one at a time, the public
  functions the pipeline composes and materializes each output before
  the next call, so every span holds one layer's work; steps without a
  public function stay in the enclosing pipeline span's self time.

Every form returns the rows the output check needs.
"""

from __future__ import annotations

import glob
import os
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from transcriptomics_data_integration_spark.llmdata.dedup import (
    connected_components,
    dedup_clusters,
    exact_dedup,
    lsh_candidates_from_columns,
    minhash_lsh_pairs,
    minhash_sig_columns,
    shingles,
)
from transcriptomics_data_integration_spark.operators.filters import zero_variance_filter
from transcriptomics_data_integration_spark.pipelines.meta import meta_analysis
from transcriptomics_data_integration_spark.runtime import cleanup_persisted
from transcriptomics_data_integration_spark.sources.tsv_matrix import (
    read_matrix_tsv,
    write_matrix_tsv,
)
from transcriptomics_data_integration_spark.stats.bh import p_adjust
from transcriptomics_data_integration_spark.stats.stouffer import p_improvement, stouffer_combine
from transcriptomics_data_integration_spark.stats.ttest import two_group_ttest

import checks

META_COLS = [
    "gene_id", "n_platforms", "avg_log2fc", "z_comb", "p_comb", "adj_p_comb", "icc",
    "avg_p_improvement",
]


def _parquet(spark, in_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(in_dir, f"{name}.parquet"))


def _rows(rows) -> list[dict]:
    return [r.asDict() for r in rows]


def _bh(meta: DataFrame) -> DataFrame:
    """BH over the combined p values, as a user of the meta table
    reports it."""
    return p_adjust(meta, "p_comb", "adj_p_comb", method="BH", tiebreak_col="gene_id")


# ----------------------------------------------------------------- meta_tsv


def _platform_tsvs(in_dir: str) -> list[str]:
    return sorted(glob.glob(os.path.join(in_dir, "*.tsv")))


def _read_platforms(spark, in_dir: str) -> DataFrame:
    parts = [
        read_matrix_tsv(spark, p).withColumn("platform", F.lit(os.path.basename(p)[:-4]))
        for p in _platform_tsvs(in_dir)
    ]
    return reduce(DataFrame.unionByName, parts)


def _merged_path(out_dir: str) -> str:
    return os.path.join(out_dir, "merged_matrix")


def run_meta_tsv(spark, in_dir: str, out_dir: str) -> dict:
    expr = _read_platforms(spark, in_dir)
    targets = _parquet(spark, in_dir, "targets")
    write_matrix_tsv(expr.drop("platform"), _merged_path(out_dir))
    expr = zero_variance_filter(expr, "gene_id", "value")
    rows = _bh(meta_analysis(expr, targets, "T", "N", with_icc=False)).collect()
    return {"rows": _rows(rows)}


def traced_meta_tsv(spark, tr, in_dir: str, out_dir: str) -> dict:
    targets = _parquet(spark, in_dir, "targets")

    tr.pass_name = "pipeline"
    expr = zero_variance_filter(_read_platforms(spark, in_dir), "gene_id", "value")
    with tr.span("pipelines.meta"):
        tr.collect(meta_analysis(expr, targets, "T", "N", with_icc=False))
    cleanup_persisted()

    tr.pass_name = "layers"
    with tr.span("iteration"):
        with tr.span("sources.tsv_matrix.read"):
            expr = tr.materialize(_read_platforms(spark, in_dir))
        with tr.span("sources.tsv_matrix.write"):
            with tr.action():
                write_matrix_tsv(expr.drop("platform"), _merged_path(out_dir))
        with tr.span("operators.filters"):
            expr = tr.materialize(zero_variance_filter(expr, "gene_id", "value"))
        with tr.span("pipelines.meta"):
            # meta_analysis(with_icc=False), one public call at a time
            labeled = expr.join(F.broadcast(targets.select("sample_id", "target")), "sample_id")
            with tr.span("stats.ttest"):
                de = tr.materialize(
                    two_group_ttest(
                        labeled, ["gene_id", "platform"], "target", "value", "T", "N",
                        exact_scale=None,
                    )
                ).withColumn("icc", F.lit(0.0))
            with tr.span("stats.stouffer"):
                comb = tr.materialize(
                    stouffer_combine(de, "gene_id", "platform", "p_value", "log2fc", "icc")
                )
                improved = tr.materialize(
                    p_improvement(de.join(comb.select("gene_id", "p_comb"), "gene_id"),
                                  "p_value", "p_comb")
                )
            per_platform_imp = improved.groupBy("gene_id").agg(
                F.avg("p_improvement").alias("avg_p_improvement")
            )
            icc_per_gene = de.groupBy("gene_id").agg(F.first("icc").alias("icc"))
            meta = tr.materialize(
                comb.join(icc_per_gene, "gene_id", "left")
                .join(per_platform_imp, "gene_id", "left")
                .orderBy("p_comb", "gene_id")
            )
        with tr.span("stats.bh"):
            rows = tr.collect(_bh(meta))
        tr.cleanup()
    return {"rows": _rows(rows), "counters": {}}


def check_meta_tsv(out: dict, truth: dict, in_dir: str, out_dir: str) -> list[str]:
    return checks.check_meta(out["rows"], truth) + checks.check_tsv_roundtrip(
        _platform_tsvs(in_dir), _merged_path(out_dir)
    )


def digest_meta_tsv(out: dict) -> str:
    return checks.digest(out["rows"], META_COLS)


# ------------------------------------------------------------- corpus_dedup

CLUSTER_COLS = ["doc_id", "canonical_id", "cluster_size"]


def run_corpus_dedup(spark, in_dir: str, out_dir: str) -> dict:
    docs = _parquet(spark, in_dir, "docs")
    pairs = minhash_lsh_pairs(docs, "doc_id", expand="star")
    return {"rows": _rows(dedup_clusters(pairs).collect())}


def _lsh_counters(spark, docs: DataFrame, pairs: list) -> dict:
    """Candidate and verified pair counts at the representative level,
    from the module's public stage functions (computed outside every
    span, so they cost no span time)."""
    reps = exact_dedup(docs, "doc_id").select(F.col("canonical_id").alias("doc_id"))
    rep_ids = {r[0] for r in reps.collect()}
    rep_docs = docs.join(reps, "doc_id")
    sigs = minhash_sig_columns(shingles(rep_docs, "doc_id"), "doc_id")
    candidates = lsh_candidates_from_columns(sigs, "doc_id").count()
    verified = sum(1 for a, b in pairs if a in rep_ids and b in rep_ids)
    return {
        "llmdata.dedup.lsh_candidates": candidates,
        "llmdata.dedup.verified_pairs": verified,
        "llmdata.dedup.verify_yield": verified / candidates if candidates else 0.0,
    }


def traced_corpus_dedup(spark, tr, in_dir: str, out_dir: str) -> dict:
    docs = _parquet(spark, in_dir, "docs")
    tr.pass_name = "layers"
    stats: dict = {}
    with tr.span("iteration"):
        with tr.span("llmdata.dedup.minhash_lsh_pairs"):
            pairs = tr.materialize(minhash_lsh_pairs(docs, "doc_id", expand="star"))
        with tr.span("llmdata.dedup.connected_components"):
            cc = tr.materialize(connected_components(pairs, "id_a", "id_b", stats=stats))
        # the rest of dedup_clusters: cluster size per component
        w_size = F.count(F.lit(1)).over(Window.partitionBy("component"))
        rows = tr.collect(
            cc.select(
                F.col("node").alias("doc_id"),
                F.col("component").alias("canonical_id"),
                w_size.alias("cluster_size"),
            )
        )
        tr.cleanup()
    pair_rows = [(r[0], r[1]) for r in pairs.select("id_a", "id_b").collect()]
    counters = _lsh_counters(spark, docs, pair_rows)
    counters["llmdata.dedup.cc_rounds"] = stats.get("rounds", 0)
    return {"rows": _rows(rows), "counters": counters}


def check_corpus_dedup(out: dict, truth: dict, in_dir: str, out_dir: str) -> list[str]:
    return checks.check_clusters(out["rows"], truth)


def digest_corpus_dedup(out: dict) -> str:
    return checks.digest(out["rows"], CLUSTER_COLS)


WORKLOADS = {
    name: {
        "run": globals()[f"run_{name}"],
        "traced": globals()[f"traced_{name}"],
        "check": globals()[f"check_{name}"],
        "digest": globals()[f"digest_{name}"],
    }
    for name in ("meta_tsv", "corpus_dedup")
}
