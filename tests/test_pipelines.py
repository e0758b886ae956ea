"""End-to-end pipeline tests on synthetic fixtures shaped like
FIXTURES.md sections 1-4."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from transcriptomics_data_integration_spark.pipelines import (
    build_expression_matrix,
    differential_expression,
    meta_analysis,
)
from transcriptomics_data_integration_spark.stats.normalize import (
    array_weights,
    cqn_simplified,
    log2_cpm,
    voom_weights,
)


def test_build_expression_matrix(spark):
    # probes p1/p2 -> gene gA (p2 higher variance, wins A4); p3 -> gB;
    # p4 unreliable (absent from map); sample s3 is an outlier; s4 not
    # in the target sheet
    inten = []
    for s, off in [("s1", 0.0), ("s2", 1.0), ("s3", 99.0), ("s4", -7.0)]:
        inten += [
            ("p1", s, 5.0 + 0.1 * off),
            ("p2", s, 5.0 + 1.0 * off),
            ("p3", s, 2.0 + 0.5 * off),
            ("p4", s, 1.0),
        ]
    intensities = spark.createDataFrame(inten, ["probe", "sample_id", "value"])
    targets = spark.createDataFrame([("s1",), ("s2",), ("s3",)], ["sample_id"])
    outliers = spark.createDataFrame([("ds1", "s3")], ["dataset", "samples2exclude"])
    probe_map = spark.createDataFrame(
        [("p1", "gA"), ("p2", "gA"), ("p3", "gB")], ["probe", "gene_id"]
    )
    out = build_expression_matrix(
        intensities, targets, outliers, probe_map, normalize=False
    ).collect()
    genes = {r["gene_id"] for r in out}
    samples = {r["sample_id"] for r in out}
    assert genes == {"gA", "gB"}
    assert samples == {"s1", "s2"}
    assert len(out) == 4  # 2 genes x 2 samples, one probe per gene


def _two_platform_fixture(spark, shift=4.0):
    rows, trows = [], []
    for plat in ("P1", "P2"):
        for d, (ds, b_off) in enumerate([("dsA", 0.0), ("dsB", 2.0)]):
            for j in range(6):
                s = f"{plat}_{ds}_s{j}"
                grp = "T" if j < 3 else "N"
                trows.append((s, grp, ds))
                for g in range(8):
                    hot = shift if (g == 0 and grp == "T") else 0.0
                    noise = 0.3 * ((j * 7 + g * 3 + d) % 5)
                    rows.append((f"g{g}", s, plat, 8.0 + g + b_off + hot + noise))
    expr = spark.createDataFrame(rows, ["gene_id", "sample_id", "platform", "value"])
    targets = spark.createDataFrame(trows, ["sample_id", "target", "dataset"])
    return expr, targets


def test_differential_expression_finds_hot_gene(spark):
    expr, targets = _two_platform_fixture(spark)
    out = differential_expression(
        expr.where(F.col("platform") == "P1").drop("platform"),
        targets,
        "T",
        "N",
        batch_correct=True,
    ).collect()
    assert out[0]["gene_id"] == "g0"
    assert out[0]["adj_p_value"] < 0.01
    assert out[0]["decide"] == 1
    others = [r for r in out if r["gene_id"] != "g0"]
    assert all(r["adj_p_value"] > 0.05 for r in others)


def test_differential_expression_confounding_guard(spark):
    expr, targets = _two_platform_fixture(spark)
    # make dataset == group (perfect confound)
    bad_targets = targets.withColumn(
        "dataset", F.when(F.col("target") == "T", "dsA").otherwise("dsB")
    )
    with pytest.raises(ValueError, match="confounded"):
        differential_expression(
            expr.where(F.col("platform") == "P1").drop("platform"),
            bad_targets,
            "T",
            "N",
        )


def test_batch_centring_skips_null_cells(spark):
    """A null cell (``read_matrix_tsv`` reads ``NA`` as null) moves the
    batch and gene means exactly as dropping its row does: centring
    counts values, as its decimal sums do."""
    expr, targets = _two_platform_fixture(spark)
    p1 = expr.where(F.col("platform") == "P1").drop("platform")
    hole = (F.col("gene_id") == "g0") & F.col("sample_id").isin("P1_dsA_s0", "P1_dsA_s1")
    nulled = p1.withColumn("value", F.when(hole, F.lit(None)).otherwise(F.col("value")))

    def de(e):
        return differential_expression(
            e, targets, "T", "N", batch_adjust="center", exact_scale=2
        ).collect()

    assert de(nulled) == de(p1.where(~hole))


def test_meta_analysis_combines_platforms(spark):
    expr, targets = _two_platform_fixture(spark)
    out = meta_analysis(expr, targets, "T", "N").collect()
    assert out[0]["l_gene" if False else "gene_id"] == "g0"
    assert out[0]["n_platforms"] == 2
    assert out[0]["p_comb"] < 0.01
    # combined p should beat (or match) both single-platform p's for g0
    assert out[0]["avg_p_improvement"] is not None


def test_log2_cpm_and_voom_weights(spark):
    rows = []
    for s in range(4):
        for g in range(30):
            rows.append((f"g{g}", f"s{s}", float(10 + g * 5 + (s * 3 + g) % 7)))
    df = spark.createDataFrame(rows, ["gene_id", "sample_id", "cnt"])
    lc = log2_cpm(df, "sample_id", "cnt")
    assert lc.where(F.col("lcpm").isNull()).count() == 0
    vw = voom_weights(df, "gene_id", "sample_id", "cnt", n_bins=5)
    got = vw.collect()
    assert len(got) == 30
    for r in got:
        assert r["weight"] == pytest.approx(r["trend_sqrt_sd"] ** -4, rel=1e-9)


def test_cqn_removes_gc_bias(spark):
    rows, attrs = [], []
    for g in range(40):
        gc = 0.3 + 0.01 * g
        attrs.append((f"g{g}", gc))
        for s in range(4):
            # counts strongly increasing with gc -> bias
            rows.append((f"g{g}", f"s{s}", float(10 + g * 20 + s)))
    df = spark.createDataFrame(rows, ["gene_id", "sample_id", "cnt"])
    ga = spark.createDataFrame(attrs, ["gene_id", "gc"])
    out = cqn_simplified(df, "gene_id", "sample_id", "cnt", ga, "gc", n_bins=4)
    by_bin = (
        out.groupBy("gc_bin")
        .agg(F.avg("lcpm").alias("raw"), F.avg("lcpm_cqn").alias("adj"))
        .collect()
    )
    raw_spread = max(r["raw"] for r in by_bin) - min(r["raw"] for r in by_bin)
    adj_spread = max(r["adj"] for r in by_bin) - min(r["adj"] for r in by_bin)
    assert adj_spread < raw_spread / 2


def test_array_weights_flags_noisy_sample(spark):
    rows = []
    for s, noise in [("good1", 0.1), ("good2", 0.1), ("bad", 5.0)]:
        for g in range(20):
            rows.append((f"g{g}", s, 10.0 + g + noise * ((g * 13 + len(s)) % 7 - 3)))
    df = spark.createDataFrame(rows, ["gene_id", "sample_id", "value"])
    w = {r["sample_id"]: r["weight"] for r in array_weights(df, "gene_id", "sample_id", "value").collect()}
    assert w["bad"] < w["good1"]
    assert w["bad"] < 0.5


def test_rnaseq_de_pipeline_end_to_end(spark):
    """Entry-point B composition: counts -> CQN offsets -> floor ->
    voom weights -> weighted moderated DE.  A gene with a real group
    shift ranks above null genes; BH monotone."""
    import random

    from transcriptomics_data_integration_spark.pipelines.rnaseq import (
        rnaseq_differential_expression,
    )

    rnd = random.Random(3)
    samples = [(f"s{i}", "tumor" if i < 4 else "normal") for i in range(8)]
    rows = []
    for g in range(30):
        for s, grp in samples:
            base = 200 + 10 * g
            shift = 500 if (g == 0 and grp == "tumor") else 0
            rows.append((f"g{g}", s, base + shift + rnd.randrange(0, 30)))
    counts = spark.createDataFrame(rows, "gene_id string, sample_id string, read_count long")
    targets = spark.createDataFrame(samples, "sample_id string, target string")
    attrs = spark.createDataFrame(
        [(f"g{g}", 0.3 + 0.01 * g) for g in range(30)], "gene_id string, gc_content double"
    )
    out = rnaseq_differential_expression(
        counts, targets, attrs, "tumor", "normal"
    ).collect()
    by_gene = {r["gene_id"]: r for r in out}
    assert len(by_gene) == 30
    shifted_p = by_gene["g0"]["adj_p_value"]
    assert shifted_p == min(r["adj_p_value"] for r in out)
    assert all(r["adj_p_value"] >= r["p_value"] - 1e-15 for r in out)
    assert by_gene["g0"]["log2fc"] > 0

    # full-fidelity path (spline CQN + lowess voom) agrees on the call
    out_lo = rnaseq_differential_expression(
        counts, targets, attrs, "tumor", "normal", fidelity="lowess"
    ).collect()
    by_gene_lo = {r["gene_id"]: r for r in out_lo}
    assert len(by_gene_lo) == 30
    assert by_gene_lo["g0"]["adj_p_value"] == min(r["adj_p_value"] for r in out_lo)
    assert by_gene_lo["g0"]["log2fc"] > 0


def test_differential_expression_center_mode_finds_hot_gene(spark):
    """batch_adjust='center' (the closed-form, oracle-gateable tier)
    removes the additive batch offset and finds the same hot gene as
    the ComBat tier; centering leaves per-gene grand means intact."""
    expr, targets = _two_platform_fixture(spark)
    p1 = expr.where(F.col("platform") == "P1").drop("platform")
    out = differential_expression(
        p1, targets, "T", "N", batch_adjust="center", exact_scale=2
    ).collect()
    assert out[0]["gene_id"] == "g0"
    assert out[0]["decide"] == 1
    assert all(r["adj_p_value"] > 0.05 for r in out if r["gene_id"] != "g0")

    # invariant: location-centering preserves the per-gene grand mean
    # (up to the scale-2 quantization the oracle tier applies)
    from transcriptomics_data_integration_spark.pipelines.diffexpr import (
        differential_expression as de,
    )
    import pytest as _pt

    labeled = p1.join(targets, "sample_id")
    per_gb = labeled.groupBy("gene_id", "dataset").agg(
        F.sum("value").alias("s"), F.count(F.lit(1)).alias("n")
    )
    per_g = labeled.groupBy("gene_id").agg(
        F.sum("value").alias("sg"), F.count(F.lit(1)).alias("ng")
    )
    adj = (
        labeled.join(per_gb, ["gene_id", "dataset"]).join(per_g, "gene_id")
        .withColumn("v2", F.col("value") - F.col("s") / F.col("n") + F.col("sg") / F.col("ng"))
    )
    chk = adj.groupBy("gene_id").agg(
        F.avg("v2").alias("m2"), (F.sum("sg") / F.sum("ng")).alias("m1")
    ).collect()
    for r in chk:
        assert r["m2"] == _pt.approx(r["m1"], rel=1e-9)


def test_normalized_matrix_de_imputes_and_restricts(spark):
    """Entry-point C: missing cells are mean-filled per gene, excluded
    genes never appear, and the hot gene still tops the table."""
    from transcriptomics_data_integration_spark.pipelines.diffexpr import (
        normalized_matrix_de,
    )

    expr, targets = _two_platform_fixture(spark)
    p1 = expr.where(F.col("platform") == "P1").drop("platform")
    # plant missing cells on one non-hot gene
    holed = p1.withColumn(
        "value",
        F.when(
            (F.col("gene_id") == "g3") & (F.col("sample_id").endswith("s1")),
            F.lit(None),
        ).otherwise(F.col("value")),
    )
    restrict = spark.createDataFrame(
        [(f"g{i}",) for i in range(7)], ["gene_id"]  # drops g7
    )
    out = normalized_matrix_de(
        holed, targets, "T", "N", restrict_genes=restrict, exact_scale=2
    ).collect()
    genes = {r["gene_id"] for r in out}
    assert "g7" not in genes and "g3" in genes
    assert out[0]["gene_id"] == "g0" and out[0]["decide"] == 1


def _join_form_meta(de, gene_col="gene_id"):
    """The combine as three aggregates and two joins back: the form
    ``meta_analysis`` replaced with one gene-keyed aggregate.  ``de``
    carries the per-(gene, platform) DE rows with ``icc`` attached."""
    from transcriptomics_data_integration_spark.stats.stouffer import (
        p_improvement,
        stouffer_combine,
    )

    comb = stouffer_combine(de, gene_col, "platform", "p_value", "log2fc", "icc")
    improved = p_improvement(
        de.join(comb.select(gene_col, "p_comb"), gene_col), "p_value", "p_comb"
    )
    per_platform_imp = improved.groupBy(gene_col).agg(
        F.avg("p_improvement").alias("avg_p_improvement")
    )
    icc_per_gene = de.groupBy(gene_col).agg(F.first("icc").alias("icc"))
    return (
        comb.join(icc_per_gene, gene_col, "left")
        .join(per_platform_imp, gene_col, "left")
        .orderBy("p_comb", gene_col)
    )


_META_COLS = ["gene_id", "n_platforms", "avg_log2fc", "z_comb", "p_comb", "icc", "avg_p_improvement"]


def _assert_meta_equal(got, want, abs_tol=0.0):
    """Per gene: exact when the gene is on 2 platforms (two-term sums
    commute), 1e-12 relative above (summation order may move the last
    bits).  ``abs_tol`` > 0 compares every gene to 1e-12 relative or
    ``abs_tol`` absolute."""
    assert [r["gene_id"] for r in got] == [r["gene_id"] for r in want]
    for g, w in zip(got, want):
        assert g["n_platforms"] == w["n_platforms"]
        for c in _META_COLS[2:]:
            if w["n_platforms"] == 2 and not abs_tol:
                assert g[c] == w[c], (g["gene_id"], c, g[c], w[c])
            else:
                assert g[c] == pytest.approx(w[c], rel=1e-12, abs=abs_tol), (g["gene_id"], c)


def test_meta_analysis_one_aggregate_matches_join_form(spark):
    """Property: on random multi-platform expression (2-4 platforms,
    genes missing from some platforms) the one-aggregate combine in
    ``meta_analysis`` gives the join form's rows, in its order and with
    its columns.  DE is decimal-exact (``exact_scale=2``) so both sides
    see the same per-(gene, platform) table.  One fixed two-platform
    case runs the ICC-weighted path; ICC's profile correlations are
    float sums whose order moves their last bit between runs, so that
    case compares to 1e-12 relative or absolute."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from transcriptomics_data_integration_spark.stats.icc import icc
    from transcriptomics_data_integration_spark.stats.ttest import two_group_ttest

    def join_form(expr, targets, with_icc):
        labeled = expr.join(targets, "sample_id")
        de = two_group_ttest(
            labeled, ["gene_id", "platform"], "target", "value", "T", "N", exact_scale=2
        )
        if with_icc:
            platforms = sorted(r[0] for r in expr.select("platform").distinct().collect())
            gene_icc = icc(expr, platforms, exact_scale=2).select("gene_id", "icc")
            de = de.join(gene_icc, "gene_id", "left").withColumn(
                "icc", F.coalesce(F.col("icc"), F.lit(0.0))
            )
        else:
            de = de.withColumn("icc", F.lit(0.0))
        return _join_form_meta(de).collect()

    value = st.integers(min_value=1, max_value=9999).map(lambda c: c / 100.0)

    @given(
        st.integers(min_value=2, max_value=4),
        st.integers(min_value=2, max_value=6),
        st.integers(min_value=2, max_value=3),
        st.data(),
    )
    @settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
    def check(n_platforms, n_genes, per_group, data):
        rows, trows = [], []
        for pl in range(n_platforms):
            present = data.draw(
                st.lists(st.booleans(), min_size=n_genes, max_size=n_genes)
            )
            for j in range(2 * per_group):
                s = f"pl{pl}_s{j}"
                trows.append((s, "T" if j < per_group else "N"))
                for g in range(n_genes):
                    if present[g]:
                        rows.append((f"g{g}", s, f"pl{pl}", data.draw(value)))
        if not rows:
            return
        expr = spark.createDataFrame(
            rows, "gene_id string, sample_id string, platform string, value double"
        ).repartition(3)
        targets = spark.createDataFrame(trows, "sample_id string, target string")
        got = meta_analysis(expr, targets, "T", "N", with_icc=False, exact_scale=2)
        assert got.columns == _META_COLS
        _assert_meta_equal(got.collect(), join_form(expr, targets, False))

    check()

    expr, targets = _two_platform_fixture(spark)
    got = meta_analysis(expr, targets, "T", "N", exact_scale=2).collect()
    want = join_form(expr, targets.select("sample_id", "target"), True)
    assert len(want) == 8 and any(r["icc"] != 0.0 for r in want)
    _assert_meta_equal(got, want, abs_tol=1e-12)


def test_meta_analysis_persists_nothing_without_icc(spark):
    from transcriptomics_data_integration_spark.runtime import cleanup_persisted

    expr, targets = _two_platform_fixture(spark)
    cleanup_persisted()
    meta_analysis(expr, targets, "T", "N", with_icc=False).collect()
    assert cleanup_persisted() == 0


def test_meta_analysis_zero_reference_mean_gives_null_fold_change(spark):
    """Raw-scale input where one gene's reference group is all zeros on
    one platform: the query completes (no divide-by-zero under ANSI),
    that (gene, platform) has a null log2fc, and the gene's average fold
    change is the other platform's."""
    from transcriptomics_data_integration_spark.stats.ttest import two_group_ttest

    expr, targets = _two_platform_fixture(spark)
    zeroed = expr.withColumn(
        "value",
        F.when(
            (F.col("gene_id") == "g1")
            & (F.col("platform") == "P2")
            & F.col("sample_id").rlike("_s[345]$"),
            F.lit(0.0),
        ).otherwise(F.col("value")),
    )
    de = {
        (r["gene_id"], r["platform"]): r
        for r in two_group_ttest(
            zeroed.join(targets, "sample_id"), ["gene_id", "platform"], "target", "value", "T", "N"
        ).collect()
    }
    assert de[("g1", "P2")]["mean_b"] == 0.0
    assert de[("g1", "P2")]["log2fc"] is None
    assert de[("g1", "P2")]["p_value"] > 0.0
    out = {
        r["gene_id"]: r
        for r in meta_analysis(zeroed, targets, "T", "N", with_icc=False, exact_scale=2).collect()
    }
    assert out["g1"]["n_platforms"] == 2
    assert out["g1"]["avg_log2fc"] == de[("g1", "P1")]["log2fc"]
    assert out["g1"]["p_comb"] is not None


def test_f5_single_pass_equals_filter_then_ttest(spark):
    """Property: with ``top_k_genes`` both DE entry points (batch
    correction off) equal ``nonspecific_filter_topk`` ->
    ``two_group_ttest`` -> the same limma tail.  The single pass
    aggregates the facts once for F5 and the t moments, so at
    ``exact_scale=2`` every value must match exactly; in float mode
    the sums may run in another order, so values compare to 1e-12
    relative (1e-12 absolute for a t that is exactly 0 on one side)."""
    from hypothesis import HealthCheck, example, given, settings
    from hypothesis import strategies as st

    from transcriptomics_data_integration_spark.operators.filters import (
        nonspecific_filter_topk,
    )
    from transcriptomics_data_integration_spark.pipelines.diffexpr import (
        _toptable,
        normalized_matrix_de,
    )
    from transcriptomics_data_integration_spark.stats.ttest import two_group_ttest

    @given(
        st.integers(min_value=3, max_value=7),
        st.integers(min_value=2, max_value=4),
        st.integers(min_value=1, max_value=7),
        st.lists(st.integers(min_value=0, max_value=2000), min_size=7 * 8, max_size=7 * 8),
    )
    @settings(max_examples=4, deadline=None, suppress_health_check=list(HealthCheck))
    # the two paths lay the per-gene rows out differently; a float
    # eBayes prior read 2.2409091766351956 against 2.240909176635195
    @example(
        5, 2, 5,
        [1868, 1181, 710, 557, 713, 1, 1455, 894, 1735, 1796, 745, 1049, 107, 1160, 223,
         496, 33, 555, 710, 1852, 1764, 475, 4, 238, 1, 1936, 716, 686, 1181, 1042]
        + [0] * 26,
    )
    def check(n_genes, per_group, k, cells):
        samples = [f"s{j}" for j in range(2 * per_group)]
        rows = [
            (f"g{g}", s, cells[g * 8 + j] / 100.0)
            for g in range(n_genes)
            for j, s in enumerate(samples)
        ]
        expr = spark.createDataFrame(rows, "gene_id string, sample_id string, value double")
        targets = spark.createDataFrame(
            [(s, "T" if j < per_group else "N", "ds") for j, s in enumerate(samples)],
            ["sample_id", "target", "dataset"],
        )
        labeled = expr.join(targets, "sample_id")
        for scale in (2, None):
            ref = _toptable(
                two_group_ttest(
                    nonspecific_filter_topk(labeled, "gene_id", "value", k, exact_scale=scale),
                    "gene_id", "target", "value", "T", "N",
                    exact_scale=scale, log_scale_values=True,
                ),
                "gene_id", "BH", 0.05,
            ).collect()
            for out in (
                differential_expression(
                    expr, targets, "T", "N", top_k_genes=k,
                    batch_correct=False, exact_scale=scale,
                ).collect(),
                normalized_matrix_de(
                    expr, targets, "T", "N", top_k_genes=k, exact_scale=scale
                ).collect(),
            ):
                if scale is not None:
                    assert out == ref
                    continue
                got = {r["gene_id"]: r.asDict() for r in out}
                want = {r["gene_id"]: r.asDict() for r in ref}
                assert got.keys() == want.keys()
                for g in want:
                    assert got[g] == pytest.approx(want[g], rel=1e-12, abs=1e-12), g

    check()
