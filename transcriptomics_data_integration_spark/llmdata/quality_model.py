"""In-engine document-quality classifier — the weak-supervision
quality-filter pattern of large-corpus pipelines (GPT-3 / CCNet style:
label a slice of the corpus with a cheap rule, fit a small classifier
over text features, score everything).

The reference repo's modeling analogue is ``modelOutcome`` logistic
regression (`scripts/data_integration/Meta_analysis.R:581-598`, M14);
this module is its corpus-side composition: ONE global 3-parameter
logistic model (intercept + 2 centered text features) fit by a FIXED
2-step IRLS from beta = 0 — every arithmetic step a closed-form moment
expression (Cramer solve of the 3x3 weighted normal equations, shared
verbatim with the DuckDB oracle via ``stats.fixed_twins.cramer3_sql``)
— then a sigmoid score per document.

Physical shape: features and per-row IRLS working quantities are
map-side codegen; each IRLS step is ONE 1-row moment aggregate
(map-side partial) attached back by ``crossJoin(broadcast(...))``,
like a bucketed scan's 1-row bounds.  Nothing data-sized ever windows
or collects, so the operator holds at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from transcriptomics_data_integration_spark.stats.fixed_twins import cramer3_sql

_MOMENTS = ["sw", "swx", "swn", "swxx", "swxn", "swnn", "swy", "swxy", "swny"]


def _moment_aggs(w: str, x: str, n: str, z: str) -> list[Column]:
    prods = {
        "sw": w,
        "swx": f"{w} * {x}",
        "swn": f"{w} * {n}",
        "swxx": f"{w} * {x} * {x}",
        "swxn": f"{w} * {x} * {n}",
        "swnn": f"{w} * {n} * {n}",
        "swy": f"{w} * {z}",
        "swxy": f"{w} * {x} * {z}",
        "swny": f"{w} * {n} * {z}",
    }
    return [F.sum(F.expr(e)).alias(k) for k, e in prods.items()]


def _solve(mom: DataFrame) -> DataFrame:
    det, b0, b1, b2 = cramer3_sql({k: k for k in _MOMENTS})
    return mom.withColumn("_det", F.expr(det)).select(
        F.expr(b0).alias("b0"), F.expr(b1).alias("b1"), F.expr(b2).alias("b2")
    )


def quality_model_score(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Fit the global quality model and score every document.

    Features (centered): x = ln(1 + token count), n = stopword ratio.
    Weak label: y = 1 iff the doc contains the marker token ``spark``
    (a cheap topical rule, deliberately not a function of the model's
    features alone — longer docs are likelier to contain it, so the
    length feature carries real signal).  IRLS: step 1 from
    beta = 0 (w = 1/4, z = 4(y - 1/2), the exact Newton step at zero);
    step 2 re-weights at the step-1 eta with the standard mu(1-mu)
    clamp.  Eta is clamped to [-30, 30] exactly like the M14 fixed
    kernel.

    Output: one row per doc — (id, y, score, decision, b0, b1, b2);
    ``decision`` uses the 6-digit-rounded score so the boundary is
    engine-stable.
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n_tok = F.size(toks)
    from transcriptomics_data_integration_spark.llmdata.text import LANG_MARKERS

    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*LANG_MARKERS["en"])))
    feats = docs.select(
        F.col(id_col),
        F.log(F.lit(1.0) + n_tok.cast("double")).alias("x_raw"),
        F.coalesce(
            F.try_divide(stop_hits.cast("double"), n_tok.cast("double")),
            F.lit(0.0),
        ).alias("n_raw"),
        F.when(F.array_contains(toks, "spark"), 1.0).otherwise(0.0).alias("y"),
    )
    means = feats.agg(
        F.avg("x_raw").alias("mx"), F.avg("n_raw").alias("mn")
    )
    feats = (
        feats.crossJoin(F.broadcast(means))
        .select(
            id_col,
            "y",
            (F.col("x_raw") - F.col("mx")).alias("x"),
            (F.col("n_raw") - F.col("mn")).alias("n"),
        )
        # four plan branches read the feature relation (means agg runs
        # upstream; step-1 moments, step-2 moments, final scoring) —
        # without the cache each branch re-scans and re-tokenizes the
        # corpus; the cached relation is 4 scalars per doc
        .persist()
    )
    from transcriptomics_data_integration_spark.runtime import register_persisted

    register_persisted(feats)
    # IRLS step 1: beta = 0 => w = 1/4, z = 4(y - 1/2)
    step1 = feats.withColumn("w", F.lit(0.25)).withColumn(
        "z", F.expr("4.0e0 * (y - 0.5e0)")
    )
    beta1 = _solve(step1.agg(*_moment_aggs("w", "x", "n", "z")))
    # IRLS step 2: re-weight at the step-1 eta
    eta = "greatest(least(b0 + b1 * x + b2 * n, 30.0e0), -30.0e0)"
    step2 = (
        feats.crossJoin(F.broadcast(beta1))
        .withColumn("eta", F.expr(eta))
        .withColumn("mu", F.expr("1.0e0 / (1.0e0 + exp(-eta))"))
        .withColumn("w", F.expr("greatest(mu * (1.0e0 - mu), 1.0e-9)"))
        .withColumn("z", F.expr("eta + (y - mu) / w"))
    )
    beta2 = _solve(step2.agg(*_moment_aggs("w", "x", "n", "z")))
    scored = (
        feats.crossJoin(F.broadcast(beta2))
        .withColumn("eta", F.expr(eta))
        .withColumn("score", F.expr("1.0e0 / (1.0e0 + exp(-eta))"))
    )
    return scored.select(
        id_col,
        F.col("y").cast("int").alias("label"),
        "score",
        (F.round("score", 6) >= 0.5).alias("decision"),
        "b0",
        "b1",
        "b2",
    )
