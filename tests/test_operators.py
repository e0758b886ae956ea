"""Unit tests for the relational operator library (SURVEY.md section 2)
on tiny hand-built relations with known answers."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from transcriptomics_data_integration_spark.operators import (
    argmax_dedup,
    bitmask_venn,
    exclude_ids,
    frequency_table,
    keep_ids,
    remove_outlier_samples,
    set_compare,
    top_k_by,
    zero_variance_filter,
)
from transcriptomics_data_integration_spark.operators.filters import (
    low_value_floor,
    nonspecific_filter_topk,
    reliability_filter,
    zero_repair,
)


def test_exclude_and_keep_ids(spark):
    df = spark.createDataFrame([("a", 1), ("b", 2), ("c", 3)], ["gene_id", "v"])
    excl = spark.createDataFrame([("b",)], ["gene_id"])
    assert {r["gene_id"] for r in exclude_ids(df, excl, "gene_id").collect()} == {"a", "c"}
    assert {r["gene_id"] for r in keep_ids(df, excl, "gene_id").collect()} == {"b"}


def test_remove_outlier_samples_packed_list(spark):
    # comma-packed exclusion incl. empty and NULL rows
    df = spark.createDataFrame(
        [("s1", 1.0), ("s2", 2.0), ("s3", 3.0), ("s4", 4.0)], ["sample_id", "v"]
    )
    outliers = spark.createDataFrame(
        [("d1", "s2, s4"), ("d2", ""), ("d3", None)], ["dataset", "samples2exclude"]
    )
    kept = remove_outlier_samples(df, outliers, "samples2exclude", "sample_id")
    assert {r["sample_id"] for r in kept.collect()} == {"s1", "s3"}


def test_zero_variance_filter(spark):
    rows = [("g1", 1.0), ("g1", 2.0), ("g2", 3.0), ("g2", 3.0)]
    df = spark.createDataFrame(rows, ["gene_id", "value"])
    out = zero_variance_filter(df, "gene_id", "value")
    assert {r["gene_id"] for r in out.collect()} == {"g1"}


def test_nonspecific_filter_topk(spark):
    rows = []
    for g, spread in [("g1", 10.0), ("g2", 1.0), ("g3", 5.0)]:
        rows += [(g, 0.0), (g, spread)]
    df = spark.createDataFrame(rows, ["gene_id", "value"])
    out = nonspecific_filter_topk(df, "gene_id", "value", 2)
    assert {r["gene_id"] for r in out.collect()} == {"g1", "g3"}


def test_nonspecific_filter_topk_exact_mode_skips_nulls(spark):
    """The decimal moments count only non-null values, as ``stddev``
    does: gA's sd is that of {1, 2} (0.707), below gC's (0.816), in
    both modes (counting gA's null rows would read 0.957)."""
    rows = [("gA", 1.0), ("gA", 2.0), ("gA", None), ("gA", None)]
    rows += [("gC", v) for v in (0.0, 1.0, 1.0, 2.0)]
    df = spark.createDataFrame(rows, "gene_id string, value double")
    for scale in (None, 2):
        out = nonspecific_filter_topk(df, "gene_id", "value", 1, exact_scale=scale)
        assert {r["gene_id"] for r in out.collect()} == {"gC"}, scale


def test_reliability_filter_thresholds(spark):
    # ps1: 1 unreliable, single gene -> kept; ps2: 3 unreliable -> dropped;
    # ps3: multi-gene -> dropped
    rows = [
        ("ps1", "25=", "gA"),
        ("ps1", "24=1X", "gA"),
        ("ps2", "24=1X", "gB"),
        ("ps2", "20=5X", "gB"),
        ("ps2", "1X24=", "gB"),
        ("ps3", "25=", "gC"),
        ("ps3", "25=", "gD"),
    ]
    df = spark.createDataFrame(rows, ["probeset", "cigar", "gene_id"])
    out = reliability_filter(df, "probeset", F.col("cigar") != "25=", "gene_id", 2)
    assert {r["probeset"] for r in out.collect()} == {"ps1"}


def test_floor_and_zero_repair(spark):
    df = spark.createDataFrame(
        [("s1", 0.01), ("s1", 0.05), ("s1", 0.5), ("s2", 0.0), ("s2", 0.0)],
        ["sample_id", "value"],
    )
    floored = low_value_floor(df, "value", 0.02)
    repaired = zero_repair(floored, "sample_id", "value")
    got = sorted((r["sample_id"], r["value"]) for r in repaired.collect())
    # s1: 0.01 -> 0 -> repaired to min nonzero 0.05 ; s2: all zero stays 0
    assert got == [("s1", 0.05), ("s1", 0.05), ("s1", 0.5), ("s2", 0.0), ("s2", 0.0)]


def test_argmax_dedup_deterministic_tiebreak(spark):
    rows = [("gA", "p1", 5.0), ("gA", "p2", 5.0), ("gA", "p3", 1.0), ("gB", "p4", 2.0)]
    df = spark.createDataFrame(rows, ["gene_id", "probe", "var"])
    out = {r["gene_id"]: r["probe"] for r in argmax_dedup(df, "gene_id", "var", "probe").collect()}
    assert out == {"gA": "p1", "gB": "p4"}  # tie p1/p2 -> lexicographic first


def test_bitmask_venn(spark):
    rows = [("e1", "A"), ("e1", "B"), ("e2", "A"), ("e3", "B"), ("e4", "A"), ("e4", "B")]
    df = spark.createDataFrame(rows, ["element", "set_name"])
    out = {r["membership"]: r["n_elements"] for r in bitmask_venn(df, "element", "set_name").collect()}
    assert out == {"A|B": 2, "A": 1, "B": 1}


def test_set_compare(spark):
    a = spark.createDataFrame([(1,), (2,), (3,)], ["k"])
    b = spark.createDataFrame([(2,), (3,), (4,), (5,)], ["k"])
    out = set_compare(a, b, "k").collect()[0]
    assert (out["n_union"], out["n_intersect"], out["n_only_a"], out["n_only_b"]) == (5, 2, 1, 2)


def test_frequency_table(spark):
    rows = [("a",), ("a",), ("a",), ("b",), ("b",), ("c",)]
    df = spark.createDataFrame(rows, ["k"])
    out = {r["group_size"]: r["n_groups"] for r in frequency_table(df, "k").collect()}
    assert out == {3: 1, 2: 1, 1: 1}


def test_top_k_by(spark):
    df = spark.createDataFrame([("a", 3.0), ("b", 9.0), ("c", 9.0), ("d", 1.0)], ["id", "v"])
    out = [r["id"] for r in top_k_by(df, "v", 2, "id").collect()]
    assert set(out) == {"b", "c"}


def test_skyline_2d_pareto_front(spark):
    from transcriptomics_data_integration_spark.operators.aggregates import skyline_2d

    pts = spark.createDataFrame(
        [(1.0, 5), (2.0, 3), (3.0, 1), (2.5, 3), (1.0, 5), (4.0, 1), (0.5, 9)],
        "x double, y int",
    )
    sky = {(r["x"], r["y"]): r["n_rows"] for r in skyline_2d(pts, "x", "y").collect()}
    # front: (0.5,9) (1,5) (2,3) (3,1); (2.5,3) dominated by (2,3); (4,1) by (3,1)
    assert set(sky) == {(0.5, 9), (1.0, 5), (2.0, 3), (3.0, 1)}
    assert sky[(1.0, 5)] == 2  # duplicate rows counted

    # maximization flips the front
    sky_max = {(r["x"], r["y"]) for r in skyline_2d(pts, "x", "y", minimize=False).collect()}
    assert sky_max == {(4.0, 1), (2.5, 3), (2.0, 3), (1.0, 5), (0.5, 9)} - {(2.0, 3)}


def test_quantile_sketch_bounds_exact(spark):
    """A10 scale path: approx_percentile thresholds stay within a tight
    rank neighborhood of the exact percentiles."""
    import transcriptomics_data_integration_spark.suite as suite

    sf = "/root/testdata/sf0.001"
    exact = [r["threshold"] for r in suite.QUERIES["quantile_thresholds"](spark, sf).collect()]
    approx = [r["threshold"] for r in suite.QUERIES["quantile_sketch"](spark, sf).collect()]
    assert len(exact) == len(approx) == 5
    for e, a in zip(exact, approx):
        assert abs(a - e) / e < 0.02, (e, a)


def test_group_stats_matches_sample_sd(spark):
    """A1/A2 operator: R sd is the n-1 sample sd (SURVEY §7 watch
    list) — pin against hand-computed values, nulls skipped like
    na.rm=TRUE."""
    from transcriptomics_data_integration_spark.operators.aggregates import group_stats

    df = spark.createDataFrame(
        [("g1", 1.0), ("g1", 2.0), ("g1", 3.0), ("g2", 5.0), ("g2", None)],
        "gene_id string, value double",
    )
    got = {r["gene_id"]: r for r in group_stats(df, "gene_id", "value").collect()}
    assert got["g1"]["mean_value"] == 2.0
    assert abs(got["g1"]["sd_value"] - 1.0) < 1e-12  # sd([1,2,3]) n-1 form
    assert got["g1"]["n_obs"] == 3
    assert got["g2"]["n_obs"] == 1 and got["g2"]["mean_value"] == 5.0


def test_adaptive_window_fast_path_bit_identical(spark, monkeypatch, tmp_path):
    """The Catalyst-size-estimate fast path (single global window for
    small inputs) must produce exactly the rows of the bucketed
    two-pass shape it replaces, for all three adaptive operators.
    Parquet-backed inputs (like every suite query): local relations
    report unknown stats and conservatively keep the scale path."""
    import random

    import transcriptomics_data_integration_spark.operators.windows as W
    from transcriptomics_data_integration_spark.llmdata.sampling import pack_sequences
    from transcriptomics_data_integration_spark.operators.aggregates import skyline_2d
    from transcriptomics_data_integration_spark.stats.kstest import ks_test

    rng = random.Random(7)

    def pq(name, rows, schema):
        spark.createDataFrame(rows, schema).write.parquet(str(tmp_path / name))
        return spark.read.parquet(str(tmp_path / name))

    pts = pq(
        "pts",
        [(rng.randint(0, 50) / 2.0, rng.randint(0, 50)) for _ in range(400)],
        "x double, y int",
    )
    docs = pq(
        "docs", [(i, rng.randint(0, 900)) for i in range(300)], "doc_id int, n_toks int"
    )
    vals = pq(
        "vals",
        [("a" if rng.random() < 0.5 else "b", float(rng.randint(0, 99))) for _ in range(500)],
        "grp string, v double",
    )

    assert W.fits_single_task(pts)  # tiny parquet relations take the fast path
    # a local (non-file) relation has unknown stats -> conservative scale path
    assert not W.fits_single_task(spark.createDataFrame([(1.0,)], "x double"))
    fast = {
        "sky": sorted(map(tuple, skyline_2d(pts, "x", "y").collect())),
        "pack": sorted(map(tuple, pack_sequences(docs, "doc_id", "n_toks", 512).collect())),
        "ks": sorted(map(tuple, ks_test(vals, "grp", "v", "a", "b").collect())),
    }
    # force the scale path and require identical output
    monkeypatch.setattr(W, "fits_single_task", lambda df, threshold_bytes=0: False)
    slow = {
        "sky": sorted(map(tuple, skyline_2d(pts, "x", "y").collect())),
        "pack": sorted(map(tuple, pack_sequences(docs, "doc_id", "n_toks", 512).collect())),
        "ks": sorted(map(tuple, ks_test(vals, "grp", "v", "a", "b").collect())),
    }
    assert fast == slow


def test_ordered_scan_arms_agree_property(spark):
    """ordered_scan: on random rows with tied and null order keys, an
    optional (nullable) partition key and bucket columns of 1, 2 and 7
    buckets (or the kernel's own range buckets), the window arm and the
    bucketed arm agree value for value on every scan kind and frame, in
    both directions and both null placements."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from transcriptomics_data_integration_spark.operators.windows import Scan, ordered_scan

    small = st.one_of(st.none(), st.integers(-5, 5))
    row = st.tuples(st.sampled_from([None, "a", "b"]), small, small, small)
    scans = [
        Scan(f"{fn}_{frame}", fn, None if fn == "row_number" else "v", frame)
        for fn in ("row_number", "count", "sum", "min", "max")
        for frame in ("inclusive", "exclusive", "total")
        if not (fn == "row_number" and frame == "total")
    ] + [Scan("kept_min", "min", "w", keep=F.col("w").isNotNull())]

    @given(
        st.lists(row, min_size=1, max_size=30),
        st.sampled_from([None, 1, 2, 7]),
        st.booleans(),
        st.booleans(),
        st.booleans(),
    )
    @settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
    def check(rows, n_buckets, partitioned, descending, nulls_last):
        df = spark.createDataFrame(
            [(i, *r) for i, r in enumerate(rows)], "id int, part string, k int, v int, w int"
        )
        # monotone in k over its domain [-5, 5]
        bucket = (
            None if n_buckets is None
            else F.floor((F.col("k") + 5) * n_buckets / 11).cast("int")
        )
        out = {}
        for single_task in (True, False):
            res = ordered_scan(
                df, ["k", "id"], scans,
                partition_by=["part"] if partitioned else [],
                descending=descending, nulls_last=nulls_last,
                bucket=bucket, single_task=single_task,
            )
            plan = res._jdf.queryExecution().optimizedPlan().toString()
            assert ("_bkt" in plan) is not single_task
            assert res.columns == df.columns + [s.out for s in scans]
            out[single_task] = {r["id"]: r for r in res.collect()}
        assert out[True] == out[False]

    check()

    from decimal import Decimal

    df = spark.createDataFrame([(1, 1.5, Decimal("2.00"))], "id int, x double, d decimal(10,2)")
    for col in ("x", "d"):
        with pytest.raises(ValueError, match="integral"):
            ordered_scan(df, ["id"], [Scan("s", "sum", col)])


def test_estimated_plan_bytes_known_and_bounded(spark):
    df = spark.range(100).selectExpr("id", "id % 7 AS k")
    from transcriptomics_data_integration_spark.operators.windows import (
        estimated_plan_bytes,
    )

    size = estimated_plan_bytes(df.groupBy("k").count())
    assert size is not None and 0 < size < (1 << 40)


def test_dabg_filter_exact_reference_semantics(spark):
    """dabg_filter (F9, r8): the 3-condition DABG pipeline of
    `GenExpressionComb_Affy_HuEx1ST_DABGfilter.R:245-308` on a
    hand-built matrix pinning every boundary: crosshyb drop, the
    single-sample group's STRICT > threshold branch (value exactly
    2^3 = 8 is NOT present), the probeset rule's EXCLUSIVE half bound
    (1 of 2 samples present -> absent), the transcript rule's
    INCLUSIVE half bound (1 of 2 samples present -> present), and the
    >= 2-groups transcript keep."""
    from transcriptomics_data_integration_spark.operators.filters import dabg_filter

    # samples s0,s1 -> g0; s2 -> g1 (single-sample); s3,s4 -> g2
    groups = {0: 0, 1: 0, 2: 1, 3: 2, 4: 2}
    # probeset -> (transcript, crosshyb, per-sample values s0..s4)
    mat = {
        "a1": ("A", 1, [16, 16, 0, 16, 0]),
        "a2": ("A", 1, [16, 16, 0, 16, 0]),
        # B present only in g0 -> transcript dropped despite kept probesets
        "b1": ("B", 1, [16, 16, 0, 0, 0]),
        "b2": ("B", 1, [16, 16, 0, 0, 0]),
        # c1: g1 value is EXACTLY 8 (strict branch -> absent), g0 has
        # 1/2 present (exclusive bound -> absent) -> present nowhere
        "c1": ("C", 1, [16, 0, 8, 0, 0]),
        "c2": ("C", 1, [16, 16, 0, 16, 16]),
        # c3 cross-hybridises: must vanish before any computation
        "c3": ("C", 2, [16, 16, 16, 16, 16]),
        "c4": ("C", 1, [16, 16, 16, 16, 16]),
    }
    rows = [
        (ps, tr, s, groups[s], float(v), ch)
        for ps, (tr, ch, vals) in mat.items()
        for s, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows,
        "probeset string, transcript string, sample int, grp int, "
        "intensity double, crosshyb int",
    )
    out = dabg_filter(
        df, "probeset", "transcript", "sample", "grp", "intensity",
        crosshyb_col="crosshyb",
    ).collect()
    kept = {(r["probeset"], r["sample"]) for r in out}
    # A kept via the INCLUSIVE transcript bound in g2 (1/2 samples);
    # C kept with c1 (present nowhere) and c3 (crosshyb) removed
    expect = {(p, s) for p in ("a1", "a2", "c2", "c4") for s in range(5)}
    assert kept == expect
    assert all(r["transcript"] in ("A", "C") for r in out)


def test_qc_rle_nuse_hand_values(spark):
    """qc_rle_nuse (M18 depth, r8): RLE deviations vs gene medians and
    NUSE ratios vs gene-median SE, per-sample medians, replayed by
    hand (`QC_Affy_U133Plus2.R:133-134` data surface)."""
    from transcriptomics_data_integration_spark.stats.normalize import qc_rle_nuse

    rows = [
        # gene, sample, value, se
        ("g1", "s1", 1.0, 1.0), ("g1", "s2", 2.0, 1.0), ("g1", "s3", 3.0, 2.0),
        ("g2", "s1", 10.0, 2.0), ("g2", "s2", 20.0, 4.0), ("g2", "s3", 60.0, 4.0),
    ]
    df = spark.createDataFrame(rows, "gene string, sample string, v double, se double")
    got = {r["sample"]: r for r in
           qc_rle_nuse(df, "gene", "sample", "v", se_col="se").collect()}
    # g1 median 2 -> devs (-1, 0, 1); g2 median 20 -> devs (-10, 0, 40)
    assert got["s1"]["rle_median"] == -5.5
    assert got["s2"]["rle_median"] == 0.0
    assert got["s3"]["rle_median"] == 20.5
    # g1 se median 1 -> nse (1, 1, 2); g2 se median 4 -> (.5, 1, 1)
    assert got["s1"]["nuse_median"] == 0.75
    assert got["s2"]["nuse_median"] == 1.0
    assert got["s3"]["nuse_median"] == 1.5
    assert all(r["n_obs"] == 2 for r in got.values())


def test_rna_degradation_exact_slope(spark):
    """rna_degradation (M18 depth, r8): per-position means and the
    5'->3' OLS slope/intercept/t replayed by hand on a 2-sample,
    4-position design (`QC_Affy_U133Plus2.R:143-145` data surface)."""
    from transcriptomics_data_integration_spark.stats.normalize import (
        rna_degradation,
    )

    rows = []
    # s1: position means 10, 12, 14, 16 -> slope 2, intercept 8 (exact fit)
    for p, vals in zip([1, 2, 3, 4], [(8, 12), (12, 12), (13, 15), (16, 16)]):
        rows += [("s1", p, float(v)) for v in vals]
    # s2: means 5, 5, 5, 5 -> slope 0
    rows += [("s2", p, 5.0) for p in [1, 2, 3, 4] for _ in range(2)]
    # s3: missing position 4 -> filtered out
    rows += [("s3", p, 1.0) for p in [1, 2, 3]]
    df = spark.createDataFrame(rows, "sample string, pos int, v double")
    got = {r["sample"]: r for r in
           rna_degradation(df, "sample", "pos", "v", positions=[1, 2, 3, 4]).collect()}
    assert set(got) == {"s1", "s2"}
    s1 = got["s1"]
    assert (s1["mean_1"], s1["mean_2"], s1["mean_3"], s1["mean_4"]) == (10.0, 12.0, 14.0, 16.0)
    assert abs(s1["slope"] - 2.0) < 1e-12 and abs(s1["intercept"] - 8.0) < 1e-12
    assert got["s2"]["slope"] == 0.0 and got["s2"]["intercept"] == 5.0
    # both crafted samples fit their line exactly -> t undefined (NULL)
    assert s1["t_statistic"] is None and got["s2"]["t_statistic"] is None
