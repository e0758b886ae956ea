"""Golden numeric tests for the closed-form statistical kernels
(FIXTURES.md "Golden micro-fixtures"): BH adjustment vs R p.adjust,
quantile normalization vs the hand-worked Bolstad example, pooled t,
weighted Stouffer vs the reference formulas, FEM/REM arithmetic."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from transcriptomics_data_integration_spark.operators import windows as W
from transcriptomics_data_integration_spark.stats import (
    fem_rem_effects,
    p_adjust,
    quantile_normalize,
    stouffer_combine,
    two_group_ttest,
)
from transcriptomics_data_integration_spark.stats.bh import _adjust

_R_GOLDEN_ROWS = [("g1", 0.01), ("g2", 0.02), ("g3", 0.02), ("g4", 0.5), ("g5", 0.04)]


def _on_both_arms(monkeypatch, df, method, key="gene"):
    """``p_adjust`` with the window arm and then the bucketed arm
    forced through ``fits_single_task``; each plan is checked to be the
    arm it claims (the bucketed arm alone carries ``_bkt``)."""
    outs = []
    for fits in (True, False):
        monkeypatch.setattr(W, "fits_single_task", lambda d, fits=fits: fits)
        adj = p_adjust(df, "p", "adj", method=method, tiebreak_col=key)
        plan = adj._jdf.queryExecution().optimizedPlan().toString()
        assert ("_bkt" in plan) is not fits
        outs.append({r[key]: r["adj"] for r in adj.collect()})
    return outs


def test_bh_matches_r_p_adjust(spark, monkeypatch):
    # R: p.adjust(c(.01,.02,.02,.5,.04), "BH")
    #    -> 0.03333333 0.03333333 0.03333333 0.50000000 0.05000000
    df = spark.createDataFrame(_R_GOLDEN_ROWS, ["gene", "p"])
    for out in _on_both_arms(monkeypatch, df, "BH"):
        assert out["g1"] == pytest.approx(1 / 30)
        assert out["g2"] == pytest.approx(1 / 30)
        assert out["g3"] == pytest.approx(1 / 30)
        assert out["g4"] == pytest.approx(0.5)
        assert out["g5"] == pytest.approx(0.05)


def test_bh_histogram_matches_sort_window(spark, monkeypatch):
    # the scale path must be BIT-identical to the sort-window form on
    # adversarial inputs: duplicated p, values on bucket boundaries
    # (k/n_buckets), a spike at 0, p = 1, and a near-uniform tail
    rows = (
        [(f"z{i}", 0.0) for i in range(5)]
        + [(f"b{i}", i / 8) for i in range(9)]  # exact boundaries of 8 buckets
        + [(f"d{i}", 0.25) for i in range(7)]  # heavy tie inside one bucket
        + [(f"g{i}", ((i * 37) % 997 + 1) / 1000.0) for i in range(500)]
    )
    df = spark.createDataFrame(rows, ["gene", "p"])
    for method in ("BH", "BY", "holm"):
        exact, hist = _on_both_arms(monkeypatch, df, method)
        hist8 = {
            r["gene"]: r["adj"]
            for r in _adjust(
                df, "p", "adj", method, None, "gene", single_task=False, n_buckets=8
            ).collect()
        }
        assert hist == exact  # dict equality => bitwise-equal doubles
        assert hist8 == exact


def test_by_matches_r_p_adjust(spark, monkeypatch):
    # R: p.adjust(c(.01,.02,.02,.5,.04), "BY")
    #    -> 0.07611111 0.07611111 0.07611111 1.00000000 0.11416667
    # (BH times c(5) = 1 + 1/2 + 1/3 + 1/4 + 1/5 = 2.2833...; the .5
    # row clamps at 1).  Asserted to the last ulp of R's left-fold
    # harmonic — the engine replays R's exact operand order.
    df = spark.createDataFrame(_R_GOLDEN_ROWS, ["gene", "p"])
    expected = {
        "g1": 0.07611111111111112,
        "g2": 0.07611111111111112,
        "g3": 0.07611111111111112,
        "g4": 1.0,
        "g5": 0.11416666666666667,
    }
    for out in _on_both_arms(monkeypatch, df, "BY"):
        assert out == expected  # dict equality => bitwise-equal doubles


def test_holm_matches_r_p_adjust(spark, monkeypatch):
    # R: p.adjust(c(.01,.02,.02,.5,.04), "holm")
    #    -> 0.05 0.08 0.08 0.50 0.08
    # (step-down: tied .02s and the .04 all collapse to 4*.02 = .08
    # under the forward cummax)
    df = spark.createDataFrame(_R_GOLDEN_ROWS, ["gene", "p"])
    expected = {"g1": 0.05, "g2": 0.08, "g3": 0.08, "g4": 0.5, "g5": 0.08}
    for out in _on_both_arms(monkeypatch, df, "holm"):
        assert out == expected


def test_p_adjust_dispatch_and_de_wiring(spark):
    # the reference's documented `adjust` argument surface
    # (DiffExpression_closedPlatform.R:24): every method dispatches,
    # 'fdr' aliases BH, 'none' is the identity, unknown raises; and
    # the DE pipeline's `adjust=` parameter reaches the kernel (BY
    # inflates every non-clamped adjusted p by the harmonic factor).
    rows = [(f"g{i}", ((i * 37) % 97 + 1) / 100.0) for i in range(50)]
    df = spark.createDataFrame(rows, ["gene", "p"])
    bh = {r["gene"]: r["adj"] for r in p_adjust(df, "p", "adj", tiebreak_col="gene").collect()}
    fdr = {r["gene"]: r["adj"] for r in p_adjust(df, "p", "adj", method="fdr", tiebreak_col="gene").collect()}
    assert fdr == bh
    none = {r["gene"]: r["adj"] for r in p_adjust(df, "p", "adj", method="none").collect()}
    assert none == {f"g{i}": ((i * 37) % 97 + 1) / 100.0 for i in range(50)}
    by = {r["gene"]: r["adj"] for r in p_adjust(df, "p", "adj", method="BY", tiebreak_col="gene").collect()}
    cn = 0.0
    for i in range(1, 51):
        cn += 1.0 / i
    for g, v in by.items():
        assert v == pytest.approx(min(bh[g] * cn, 1.0), abs=1e-12) or v == 1.0
    with pytest.raises(ValueError):
        p_adjust(df, "p", "adj", method="bonferroni")

    # DE wiring: normalized_matrix_de(adjust="holm") produces holm-
    # adjusted p (>= the BH-adjusted p of the same run, strictly
    # different somewhere on real data)
    from transcriptomics_data_integration_spark.pipelines.diffexpr import (
        normalized_matrix_de,
    )

    expr = spark.createDataFrame(
        [
            (f"gene{g}", f"s{s}", float(((g * 7 + s * 13) % 50) + (g % 3)))
            for g in range(12)
            for s in range(8)
        ],
        ["gene_id", "sample_id", "value"],
    )
    targets = spark.createDataFrame(
        [(f"s{s}", "case" if s < 4 else "ctrl") for s in range(8)],
        ["sample_id", "target"],
    )
    de_bh = {
        r["gene_id"]: r["adj_p_value"]
        for r in normalized_matrix_de(expr, targets, "case", "ctrl").collect()
    }
    de_holm = {
        r["gene_id"]: r["adj_p_value"]
        for r in normalized_matrix_de(
            expr, targets, "case", "ctrl", adjust="holm"
        ).collect()
    }
    assert set(de_bh) == set(de_holm) and de_bh != de_holm


def test_bh_monotone_and_bounded(spark):
    """Property (SURVEY.md section 5.3 pipeline invariant), through the
    public ``p_adjust`` for every method on random p-sets with ties:
    p <= adj <= 1, and adj never decreases as p grows."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @given(
        st.lists(
            st.floats(min_value=0.0, max_value=1.0, allow_nan=False, width=32),
            min_size=1,
            max_size=40,
        ),
        st.randoms(use_true_random=False),
        st.sampled_from(["BH", "BY", "holm"]),
    )
    @settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
    def check(ps, rnd, method):
        ps = ps + [rnd.choice(ps) for _ in range(rnd.randrange(0, 4))]
        df = spark.createDataFrame(
            [(i, float(p)) for i, p in enumerate(ps)], "id long, p double"
        )
        out = sorted(
            (r["p"], r["adj"])
            for r in p_adjust(df, "p", "adj", method=method, tiebreak_col="id").collect()
        )
        assert len(out) == len(ps)
        for p, adj in out:
            assert p <= adj <= 1.0, (method, p, adj)
        for (_, lo), (_, hi) in zip(out, out[1:]):
            assert lo <= hi, (method, out)

    check()


def test_quantile_normalization_two_samples(spark):
    # s1: A=2, B=5, C=3 ; s2: A=4, B=1, C=4 (tie broken by gene id)
    # rank refs: r1 = mean(2,1)=1.5, r2 = mean(3,4)=3.5, r3 = mean(5,4)=4.5
    df = spark.createDataFrame(
        [
            ("s1", "A", 2.0),
            ("s1", "B", 5.0),
            ("s1", "C", 3.0),
            ("s2", "A", 4.0),
            ("s2", "B", 1.0),
            ("s2", "C", 4.0),
        ],
        ["sample_id", "gene_id", "value"],
    )
    out = quantile_normalize(df, "sample_id", "value", "gene_id")
    got = {(r["sample_id"], r["gene_id"]): r["qn_value"] for r in out.collect()}
    assert got[("s1", "A")] == pytest.approx(1.5)
    assert got[("s1", "C")] == pytest.approx(3.5)
    assert got[("s1", "B")] == pytest.approx(4.5)
    assert got[("s2", "B")] == pytest.approx(1.5)
    assert got[("s2", "A")] == pytest.approx(3.5)  # tie: A before C
    assert got[("s2", "C")] == pytest.approx(4.5)


def test_quantile_normalization_rank_preserved(spark):
    # property (SURVEY.md section 5.4): per-sample rank order preserved
    rows = [("s1", f"g{i}", float((i * 13) % 29)) for i in range(20)] + [
        ("s2", f"g{i}", float((i * 7) % 31)) for i in range(20)
    ]
    df = spark.createDataFrame(rows, ["sample_id", "gene_id", "value"])
    out = quantile_normalize(df, "sample_id", "value", "gene_id").collect()
    for s in ("s1", "s2"):
        sub = sorted(
            [(r["value"], r["gene_id"], r["qn_value"]) for r in out if r["sample_id"] == s]
        )
        qns = [q for _, _, q in sub]
        assert qns == sorted(qns)


def test_two_group_ttest_golden(spark):
    # a = [1,2,3,4], b = [2,4,6,8]: t = -1.7320508 (pooled)
    rows = [("g", "A", float(v)) for v in [1, 2, 3, 4]] + [
        ("g", "B", float(v)) for v in [2, 4, 6, 8]
    ]
    df = spark.createDataFrame(rows, ["gene", "grp", "value"])
    out = two_group_ttest(df, "gene", "grp", "value", "A", "B").collect()[0]
    assert out["mean_a"] == pytest.approx(2.5)
    assert out["mean_b"] == pytest.approx(5.0)
    assert out["t_statistic"] == pytest.approx(-1.7320508075688772, rel=1e-9)
    # normal approx two-sided p for |t| = 1.732...: 0.08326
    assert out["p_value"] == pytest.approx(0.0832645, abs=1e-5)


def test_ttest_log_scale_logfc_is_mean_difference(spark):
    # log2-scale input (limma topTable convention,
    # DiffExpression_closedPlatform.R:474-520): logFC = mean_a - mean_b.
    # mean_b = 0 (floored log2-CPM) must yield a finite logFC, not
    # Inf/null from log2 of a zero-division ratio.
    rows = [("g", "A", float(v)) for v in [3, 5, 4, 4]] + [
        ("g", "B", 0.0) for _ in range(4)
    ]
    df = spark.createDataFrame(rows, ["gene", "grp", "value"])
    out = two_group_ttest(
        df, "gene", "grp", "value", "A", "B", log_scale_values=True
    ).collect()[0]
    assert out["log2fc"] == pytest.approx(4.0)
    from transcriptomics_data_integration_spark.stats.ttest import weighted_two_group_ttest

    wdf = df.withColumn("w", F.lit(1.0))
    wout = weighted_two_group_ttest(
        wdf, "gene", "grp", "value", "w", "A", "B", log_scale_values=True
    ).collect()[0]
    assert wout["log2fc"] == pytest.approx(4.0)


def test_ttest_drops_degenerate_groups(spark):
    rows = [("g1", "A", 1.0), ("g1", "B", 2.0), ("g2", "A", 1.0), ("g2", "A", 2.0)]
    df = spark.createDataFrame(rows, ["gene", "grp", "value"])
    out = two_group_ttest(df, "gene", "grp", "value", "A", "B").collect()
    assert out == []  # g1 has n=1 per group; g2 lacks group B


def test_stouffer_equal_weights_reduces_to_classic(spark):
    # two platforms, p = .05, FC = +1, ICC = 0:
    # z_i = qnorm(.025) = -1.9599640, Z = 2 z / sqrt(2) = -2.7718077,
    # P = 2 * pnorm(-|Z|) = 0.0055742
    df = spark.createDataFrame(
        [("g", "p1", 0.05, 1.0, 0.0), ("g", "p2", 0.05, 1.0, 0.0)],
        ["gene", "platform", "p", "fc", "icc"],
    )
    out = stouffer_combine(df, "gene", "platform", "p", "fc", "icc").collect()[0]
    assert out["n_platforms"] == 2
    assert out["z_comb"] == pytest.approx(-2.771808, abs=1e-5)
    assert out["p_comb"] == pytest.approx(0.0055742, abs=1e-5)


def test_stouffer_single_platform_dropped(spark):
    # genes on one platform only are not combined (Meta_analysis.R:1218)
    df = spark.createDataFrame(
        [("g1", "p1", 0.05, 1.0, 0.0), ("g2", "p1", 0.01, 1.0, 0.0), ("g2", "p2", 0.02, -1.0, 0.0)],
        ["gene", "platform", "p", "fc", "icc"],
    )
    out = stouffer_combine(df, "gene", "platform", "p", "fc", "icc").collect()
    assert [r["gene"] for r in out] == ["g2"]


def test_stouffer_invariant_to_platform_order(spark):
    """Property: the combined z and p of a gene do not depend on the
    row order of its per-platform table.  Two platforms sum two terms,
    which commute exactly; with more, float summation order may move
    the last bits, so those compare to 1e-12 relative."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    p_val = st.floats(min_value=1e-12, max_value=1.0, allow_nan=False)
    # |FC| > 0: a gene whose fold changes are all 0 has no weight
    fc_val = st.builds(
        lambda m, neg: -m if neg else m,
        st.floats(min_value=0.01, max_value=8.0),
        st.booleans(),
    )

    @given(
        st.integers(min_value=2, max_value=4),
        st.lists(st.tuples(p_val, fc_val), min_size=4, max_size=4 * 6),
        st.randoms(use_true_random=False),
    )
    @settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
    def check(n_platforms, cells, rnd):
        rows = [
            (f"g{i // n_platforms}", f"pl{i % n_platforms}", p, fc)
            for i, (p, fc) in enumerate(cells[: len(cells) // n_platforms * n_platforms])
        ]
        shuffled = rows[:]
        rnd.shuffle(shuffled)
        outs = []
        for rs in (rows, shuffled):
            df = spark.createDataFrame(
                rs, "gene string, platform string, p double, fc double"
            ).repartition(3)
            outs.append({
                r["gene"]: (r["z_comb"], r["p_comb"])
                for r in stouffer_combine(df, "gene", "platform", "p", "fc").collect()
            })
        a, b = outs
        assert a.keys() == b.keys()
        for g in a:
            if n_platforms == 2:
                assert a[g] == b[g], (g, a[g], b[g])
            else:
                assert a[g] == pytest.approx(b[g], rel=1e-12, abs=0.0), (g, a[g], b[g])

    check()


def test_fem_rem_golden(spark):
    # two studies: (d=0.5, var=0.1), (d=0.7, var=0.2)
    # w = (10, 5); mu_FEM = 8.5/15 = 0.56667; z_FEM = mu*sqrt(15)
    # Q = 10*(0.5-mu)^2 + 5*(0.7-mu)^2 = 0.13333; tau2 = max(0, (Q-1)/(15-125/15)) = 0
    df = spark.createDataFrame(
        [("g", "s1", 0.5, 0.1), ("g", "s2", 0.7, 0.2)],
        ["gene", "platform", "d_adj", "var_d"],
    )
    out = fem_rem_effects(df, "gene").collect()[0]
    assert out["n_studies"] == 2
    assert out["mu_fem"] == pytest.approx(8.5 / 15)
    assert out["z_fem"] == pytest.approx((8.5 / 15) * 15**0.5)
    assert out["q_stat"] == pytest.approx(0.13333333333, rel=1e-6)
    assert out["tau2"] == 0.0
    # tau2 = 0 => REM == FEM
    assert out["mu_rem"] == pytest.approx(out["mu_fem"])
    assert out["z_rem"] == pytest.approx(out["z_fem"])


def test_fem_rem_heterogeneous_tau_positive(spark):
    # strongly discordant studies -> Q >> k-1 -> tau2 > 0, |z_REM| < |z_FEM|
    df = spark.createDataFrame(
        [("g", "s1", 2.0, 0.05), ("g", "s2", -2.0, 0.05), ("g", "s3", 2.0, 0.05)],
        ["gene", "platform", "d_adj", "var_d"],
    )
    out = fem_rem_effects(df, "gene").collect()[0]
    assert out["tau2"] > 0
    assert abs(out["z_rem"]) < abs(out["z_fem"])


def test_lmfit_design_matches_numpy_ols(spark):
    """The in-plan Cramer solve must reproduce a reference OLS fit
    (betas, SE of the group effect, t) computed independently."""
    import numpy as np

    from transcriptomics_data_integration_spark.stats.lmfit import lmfit_design

    rng = np.random.default_rng(3)
    rows = []
    for g in ["g1", "g2"]:
        for i in range(12):
            grp = i % 2
            x2 = float(rng.integers(1, 50))
            y = round(3.0 + (2.5 if g == "g1" else -1.0) * grp + 0.3 * x2
                      + rng.normal(0, 1), 2)
            rows.append((g, "R" if grp else "A", x2, y))
    df = spark.createDataFrame(rows, ["gene", "flag", "qty", "price"])
    out = {
        r["gene"]: r
        for r in lmfit_design(df, "gene", "flag = 'R'", "qty", "price").collect()
    }
    for g in ["g1", "g2"]:
        sub = [r for r in rows if r[0] == g]
        X = np.array([[1.0, 1.0 if r[1] == "R" else 0.0, r[2]] for r in sub])
        y = np.array([r[3] for r in sub])
        beta, rss_arr, *_ = np.linalg.lstsq(X, y, rcond=None)
        rss = float(rss_arr[0])
        sigma2 = rss / (len(sub) - 3)
        se1 = (sigma2 * np.linalg.inv(X.T @ X)[1, 1]) ** 0.5
        got = out[g]
        assert got["beta0"] == pytest.approx(beta[0], rel=1e-9)
        assert got["beta1"] == pytest.approx(beta[1], rel=1e-9)
        assert got["beta2"] == pytest.approx(beta[2], rel=1e-9)
        assert got["t_statistic"] == pytest.approx(beta[1] / se1, rel=1e-9)


def test_bh_histogram_property_random_psets(spark):
    """Property check: for arbitrary p-sets (dups, extremes, clumps) the
    bucket-partitioned arm equals the sort-window arm bitwise, for every
    method."""
    import random

    rnd = random.Random(1234)
    for trial in range(3):
        rows = []
        for i in range(rnd.randint(5, 400)):
            r = rnd.random()
            if r < 0.2:
                p = rnd.choice([0.0, 1.0, 0.5, 1e-12])
            elif r < 0.5:
                p = round(rnd.random(), 2)  # heavy ties
            else:
                p = rnd.random()
            rows.append((f"t{trial}g{i}", p))
        df = spark.createDataFrame(rows, ["gene", "p"])
        n_buckets = rnd.choice([2, 7, 64])
        for method in ("BH", "BY", "holm"):
            exact = {
                r["gene"]: r["adj"]
                for r in _adjust(
                    df, "p", "adj", method, None, "gene", single_task=True
                ).collect()
            }
            hist = {
                r["gene"]: r["adj"]
                for r in _adjust(
                    df, "p", "adj", method, None, "gene", single_task=False,
                    n_buckets=n_buckets,
                ).collect()
            }
            assert hist == exact, method


def test_bh_property_random_ties_match_r_padjust(spark):
    """Property test (SURVEY.md §7 hard part: exact tie semantics): on
    randomly generated p-vectors WITH deliberate ties, both arms of
    every method match a literal transcription of R's p.adjust — BH and
    BY a cummin over the scaled term in decreasing-p order (BY with the
    left-fold c(n) and R's ``q * n/i * p`` operand order), holm a
    cummax over ``(n - i + 1) * p`` in increasing-p order."""
    import random

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    def r_p_adjust(ps, method):
        n = len(ps)
        out = [0.0] * n
        if method == "holm":
            running = 0.0
            for rank, i in enumerate(sorted(range(n), key=lambda i: ps[i]), 1):
                running = max(running, (n - rank + 1) * ps[i])
                out[i] = min(running, 1.0)
            return out
        q = 0.0
        for i in range(1, n + 1):
            q += 1.0 / i
        running = 1.0
        for pos, i in enumerate(sorted(range(n), key=lambda i: -ps[i])):
            rank = n - pos
            term = ps[i] * n / rank if method == "BH" else q * n / rank * ps[i]
            running = min(running, term)
            out[i] = running
        return out

    @given(
        st.lists(
            st.floats(min_value=0.0, max_value=1.0, allow_nan=False, width=32),
            min_size=1,
            max_size=40,
        ),
        st.randoms(use_true_random=False),
        st.sampled_from(["BH", "BY", "holm"]),
    )
    @settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
    def check(ps, rnd, method):
        # inject ties: duplicate a random subset of the values
        ps = ps + [rnd.choice(ps) for _ in range(rnd.randrange(0, 4))]
        expected = r_p_adjust(ps, method)
        df = spark.createDataFrame(
            [(i, float(p)) for i, p in enumerate(ps)], "id long, p double"
        )
        for arm in (
            lambda d: _adjust(d, "p", "adj", method, None, "id", single_task=True),
            lambda d: _adjust(
                d, "p", "adj", method, None, "id", single_task=False, n_buckets=8
            ),
        ):
            got = {r["id"]: r["adj"] for r in arm(df).collect()}
            assert [got[i] for i in range(len(ps))] == expected, (method, ps)

    check()


def test_quantile_norm_average_ties_matches_r_semantics(spark):
    """R normalize.quantiles tie semantics (SURVEY §7 watch list): tied
    values share the MEAN of the reference distribution over their tied
    rank span.  Hand-computed golden on a 4x2 matrix with a tie."""
    from transcriptomics_data_integration_spark.stats.quantile_norm import (
        quantile_normalize,
    )

    rows = [
        ("A", "g1", 1.0), ("A", "g2", 2.0), ("A", "g3", 2.0), ("A", "g4", 5.0),
        ("B", "g1", 3.0), ("B", "g2", 4.0), ("B", "g3", 6.0), ("B", "g4", 8.0),
    ]
    df = spark.createDataFrame(rows, "sample_id string, gene_id string, value double")
    out = quantile_normalize(df, "sample_id", "value", "gene_id", ties="average")
    got = {(r["sample_id"], r["gene_id"]): r["qn_value"] for r in out.collect()}
    # ref = [2, 3, 4, 6.5]; A's tied 2.0s span ranks 2-3 -> (3+4)/2
    expected = {
        ("A", "g1"): 2.0, ("A", "g2"): 3.5, ("A", "g3"): 3.5, ("A", "g4"): 6.5,
        ("B", "g1"): 2.0, ("B", "g2"): 3.0, ("B", "g3"): 4.0, ("B", "g4"): 6.5,
    }
    assert set(got) == set(expected)
    for k, v in expected.items():
        assert abs(got[k] - v) < 1e-12, (k, got[k], v)


def test_bh_arm_chosen_on_measured_size_when_joins_inflate_estimate(spark, tmp_path, monkeypatch):
    """An unpartitioned p_adjust decides its arm on the input's measured
    size when Catalyst cannot prove it small.  The input here is two
    per-gene aggregates joined on gene, a per-gene table downstream of
    a join like ``meta_analysis``'s.  The size-only estimate multiplies
    the join's children, so
    it is far above the single-task size; measured, the relation is a
    few KB and takes the window arm.  With the threshold at 0 bytes the
    same input takes the bucketed arm, and both arms agree bitwise."""
    import random

    from transcriptomics_data_integration_spark.runtime import cleanup_persisted

    cleanup_persisted()
    rnd = random.Random(7)
    spark.createDataFrame(
        [(f"g{i:03d}", f"s{k}", rnd.random()) for i in range(1000) for k in range(8)],
        "gene string, sample string, p double",
    ).write.parquet(str(tmp_path / "cells"))
    spark.createDataFrame(
        [(f"s{k}", f"pl{k % 2}") for k in range(8)], "sample string, platform string"
    ).write.parquet(str(tmp_path / "targets"))
    cells = spark.read.parquet(str(tmp_path / "cells"))
    targets = spark.read.parquet(str(tmp_path / "targets"))
    # a provably small input is decided on the estimate: no job, no cache
    same, small = W.fits_single_task_measured(targets)
    assert same is targets and small and not targets.is_cached
    de = cells.join(targets, "sample")
    comb = de.groupBy("gene").agg(F.min("p").alias("p"))
    n_pl = de.groupBy("gene").agg(F.countDistinct("platform").alias("n_platforms"))
    meta = comb.join(n_pl, "gene")
    assert W.estimated_plan_bytes(meta) > W._SINGLE_TASK_BYTES

    def run():
        adj = p_adjust(meta, "p", "adj", tiebreak_col="gene")
        plan = adj._jdf.queryExecution().optimizedPlan().toString()
        return "_bkt" in plan, {r["gene"]: r["adj"] for r in adj.collect()}

    bkt_window, window = run()
    assert not bkt_window
    fits = W.fits_single_task
    monkeypatch.setattr(W, "fits_single_task", lambda df: fits(df, 0))
    bkt_hist, hist = run()
    assert bkt_hist
    assert len(window) == 1000 and window == hist
    assert cleanup_persisted() >= 1


def test_two_group_ttest_drops_zero_variance_genes(spark):
    """Genes with zero pooled variance have no t-statistic; they are
    excluded from the result (the reference removes them up front with
    the zero-variance filter F4), never NaN/Inf rows or ANSI errors."""
    from transcriptomics_data_integration_spark.stats.ttest import two_group_ttest

    rows = []
    for g, va, vb in [
        ("const", [5.0, 5.0, 5.0], [5.0, 5.0, 5.0]),
        ("constdiff", [1.0, 1.0, 1.0], [2.0, 2.0, 2.0]),
        ("normal", [1.0, 2.0, 3.0], [4.0, 5.0, 6.0]),
    ]:
        rows += [(g, f"a{i}", "A", v) for i, v in enumerate(va)]
        rows += [(g, f"b{i}", "B", v) for i, v in enumerate(vb)]
    df = spark.createDataFrame(
        rows, "gene_id string, sample_id string, grp string, value double"
    )
    out = two_group_ttest(df, "gene_id", "grp", "value", "A", "B").collect()
    assert [r[0] for r in out] == ["normal"]
    assert all(r["t_statistic"] is not None for r in out)


# ---------------------------------------------------------------------------
# limma exact eBayes prior (fitFDist / trigammaInverse) — round-4
# ---------------------------------------------------------------------------


def _digamma_ref(z, h=1e-5):
    """Independent digamma: Richardson-extrapolated central difference
    of stdlib math.lgamma (no scipy in container)."""
    import math

    d1 = (math.lgamma(z + h) - math.lgamma(z - h)) / (2 * h)
    d2 = (math.lgamma(z + 2 * h) - math.lgamma(z - 2 * h)) / (4 * h)
    return (4 * d1 - d2) / 3


def _trigamma_ref(z, h=1e-4):
    import math

    return (math.lgamma(z + h) - 2 * math.lgamma(z) + math.lgamma(z - h)) / (h * h)


def _trigamma_inverse_ref(x):
    """Independent trigammaInverse via bisection on _trigamma_ref."""
    lo, hi = 1e-8, 1e9
    for _ in range(200):
        mid = (lo * hi) ** 0.5  # geometric: spans 17 decades
        if _trigamma_ref(mid) > x:
            lo = mid
        else:
            hi = mid
    return (lo * hi) ** 0.5


def _fitfdist_ref(s2, df):
    """Pure-Python transliteration of limma's public fitFDist moment
    algorithm (the golden reference for squeeze_var_fitfdist)."""
    import math
    import statistics

    m = statistics.median(s2)
    if m == 0:
        m = 1.0
    x = [max(v, 1e-5 * m) for v in s2]
    e = [math.log(xi) - _digamma_ref(d / 2) + math.log(d / 2) for xi, d in zip(x, df)]
    emean = sum(e) / len(e)
    evar = sum((ei - emean) ** 2 for ei in e) / (len(e) - 1)
    evar -= sum(_trigamma_ref(d / 2) for d in df) / len(df)
    if evar > 0:
        d0 = 2 * _trigamma_inverse_ref(evar)
        s20 = math.exp(emean + _digamma_ref(d0 / 2) - math.log(d0 / 2))
    else:
        d0 = float("inf")
        s20 = math.exp(emean)
    return d0, s20


def test_polygamma_sql_matches_lgamma_derivatives(spark):
    """digamma/trigamma/tetragamma SQL (Stirling + shift-8) vs
    independent finite differences of stdlib lgamma, in BOTH engines."""
    import duckdb

    from transcriptomics_data_integration_spark.functions.special import (
        digamma_sql,
        tetragamma_sql,
        trigamma_sql,
    )

    con = duckdb.connect()
    for z in [0.5, 1.0, 1.7, 3.0, 14.0, 250.0]:
        for engine in ("spark", "duckdb"):
            if engine == "spark":
                row = spark.range(1).selectExpr(
                    f"{digamma_sql(str(z))} AS dg",
                    f"{trigamma_sql(str(z))} AS tg",
                    f"{tetragamma_sql(str(z))} AS qg",
                ).first()
                dg, tg, qg = row["dg"], row["tg"], row["qg"]
            else:
                dg, tg, qg = con.execute(
                    f"SELECT {digamma_sql(str(z))}, {trigamma_sql(str(z))},"
                    f" {tetragamma_sql(str(z))}"
                ).fetchone()
            assert dg == pytest.approx(_digamma_ref(z), rel=1e-8), (engine, z)
            tg_ref = _trigamma_ref(z, h=0.005 * max(1, z / 10))
            assert tg == pytest.approx(tg_ref, rel=1e-4), (engine, z)
            # tetragamma: wide-step 3rd central difference of lgamma
            # (narrow steps drown the tiny values in roundoff)
            import math

            # step scales with z: small-z truncation (f5 ~ 24/z^5)
            # vs large-z roundoff (lgamma grows, qg shrinks)
            h = max(0.005, z / 100)
            qg_ref = (
                math.lgamma(z + 2 * h)
                - 2 * math.lgamma(z + h)
                + 2 * math.lgamma(z - h)
                - math.lgamma(z - 2 * h)
            ) / (2 * h**3)
            assert qg == pytest.approx(qg_ref, rel=1e-3), (engine, z)

    # exact anchors: the known value at 1 and the recurrence
    # psi''(z) = psi''(z+1) - 2/z^3 (exact algebraic identities)
    t1 = con.execute(f"SELECT {tetragamma_sql('1.0e0')}").fetchone()[0]
    assert t1 == pytest.approx(-2.40411380631918857, rel=1e-10)
    for z in [0.7, 2.3, 9.0]:
        a = con.execute(f"SELECT {tetragamma_sql(str(z))}").fetchone()[0]
        b = con.execute(f"SELECT {tetragamma_sql(str(z + 1))}").fetchone()[0]
        assert a == pytest.approx(b - 2 / z**3, rel=1e-9), z


def test_trigamma_inverse_sql_roundtrip(spark):
    """trigammaInverse(x) must round-trip through trigamma to <= 1e-8
    relative over the Newton range, in both engines, and use the limma
    closed forms outside it."""
    import duckdb

    from transcriptomics_data_integration_spark.functions.special import (
        trigamma_inverse_sql,
        trigamma_sql,
    )

    con = duckdb.connect()
    for x in [2e-6, 1e-4, 0.01, 0.3, 1.0, 5.0, 100.0, 1e4, 1e6, 9.9e6]:
        yd = con.execute(
            f"SELECT {trigamma_inverse_sql(str(x), dialect='duckdb')}"
        ).fetchone()[0]
        back = con.execute(f"SELECT {trigamma_sql(str(yd))}").fetchone()[0]
        assert back == pytest.approx(x, rel=1e-8), x
        ys = spark.range(1).selectExpr(
            f"{trigamma_inverse_sql(str(x), dialect='spark')} AS y"
        ).first()["y"]
        assert ys == pytest.approx(yd, rel=1e-12), x
    # closed forms
    assert con.execute(
        f"SELECT {trigamma_inverse_sql('2.0e7', dialect='duckdb')}"
    ).fetchone()[0] == pytest.approx(1 / 2.0e7**0.5)
    assert con.execute(
        f"SELECT {trigamma_inverse_sql('5.0e-7', dialect='duckdb')}"
    ).fetchone()[0] == pytest.approx(2.0e6)


def test_squeeze_var_fitfdist_matches_limma_reference(spark):
    """squeeze_var_fitfdist (the in-plan exact eBayes prior) must match
    the independent pure-Python limma fitFDist reference at rtol 1e-6 —
    prior df, prior scale, and every posterior variance — on a
    heteroscedastic mix with unequal per-gene df."""
    import random

    from transcriptomics_data_integration_spark.stats.ttest import (
        squeeze_var_fitfdist,
    )

    rnd = random.Random(42)
    rows = []
    for g in range(120):
        scale = (1 + g % 5) ** 2
        df = 4 + g % 9
        # chi-square-ish draw: sum of df squared normals, scaled
        s2 = scale * sum(rnd.gauss(0, 1) ** 2 for _ in range(df)) / df
        rows.append((f"g{g:03d}", float(s2), float(df)))
    df_in = spark.createDataFrame(rows, "gene string, _s2 double, _df double")
    out = {r["gene"]: r for r in squeeze_var_fitfdist(df_in).collect()}

    d0_ref, s20_ref = _fitfdist_ref([r[1] for r in rows], [r[2] for r in rows])
    got_d0 = out["g000"]["_d0"]
    assert got_d0 == pytest.approx(d0_ref, rel=1e-6)
    for g, s2, dfree in rows:
        post_ref = (d0_ref * s20_ref + dfree * s2) / (d0_ref + dfree)
        assert out[g]["_s2_post"] == pytest.approx(post_ref, rel=1e-6), g
        assert out[g]["_d0"] == got_d0  # prior is global


def test_squeeze_var_fitfdist_homoscedastic_full_shrinkage(spark):
    """When the log-variance spread is at/below its sampling noise
    (evar <= 0), limma fits an infinite prior df and every posterior
    equals the prior scale exp(mean(e)) — the branch real homoscedastic
    data takes (moderated_de's unscaled twin hit it in r4 testing)."""
    import math

    from transcriptomics_data_integration_spark.stats.ttest import (
        squeeze_var_fitfdist,
    )

    rows = [(f"g{g}", 4.0, 10.0) for g in range(30)]  # identical variances
    df_in = spark.createDataFrame(rows, "gene string, _s2 double, _df double")
    out = squeeze_var_fitfdist(df_in).collect()
    e = math.log(4.0) - _digamma_ref(5.0) + math.log(5.0)
    for r in out:
        assert math.isinf(r["_d0"])
        assert r["_s2_post"] == pytest.approx(math.exp(e), rel=1e-8)


def test_squeeze_var_fitfdist_nonfinite_inputs_propagate(spark):
    """Degenerate inputs with inf/NaN variances must propagate values
    instead of raising a parse error at plan build: repr(inf) is 'infd'
    which Spark cannot parse, so collected literals are formatted via
    _dlit (r5 ADVICE)."""
    import math

    from transcriptomics_data_integration_spark.stats.ttest import (
        _dlit,
        squeeze_var_fitfdist,
    )

    # literal formatter: the three special shapes plus a plain double
    assert _dlit(float("inf")) == "CAST('Infinity' AS DOUBLE)"
    assert _dlit(float("-inf")) == "CAST('-Infinity' AS DOUBLE)"
    assert _dlit(float("nan")) == "CAST('NaN' AS DOUBLE)"
    assert _dlit(2.5) == "2.5d"
    # an inf variance drives med/emean non-finite: the call must build
    # and run (no parse error) and yield rows for every input gene
    rows = [("g0", float("inf"), 10.0), ("g1", 4.0, 10.0), ("g2", 3.5, 8.0)]
    df_in = spark.createDataFrame(rows, "gene string, _s2 double, _df double")
    out = {r["gene"]: r for r in squeeze_var_fitfdist(df_in).collect()}
    assert set(out) == {"g0", "g1", "g2"}
    # the inf-variance gene's posterior is inf in every branch of the
    # shrinkage formula; finite genes may be poisoned by the non-finite
    # global prior (matching limma, whose fitFDist also returns NaN
    # moments for non-finite inputs) — the contract here is only
    # "propagate, don't raise"
    assert math.isinf(out["g0"]["_s2_post"]) or math.isnan(out["g0"]["_s2_post"])


def test_p_adjust_null_p_follows_r_na_rule(spark, monkeypatch):
    """R's p.adjust keeps NA as NA and leaves it out of n and of every
    rank, on both arms and for partitioned calls:
    p.adjust(c(NA, .01, .02, .03), "BH")   -> NA .03 .03 .03
    p.adjust(c(NA, .01, .02, .03), "BY")   -> NA .055 .055 .055
    p.adjust(c(NA, .01, .02, .03), "holm") -> NA .03 .04 .04"""
    df = spark.createDataFrame(
        [("g0", None), ("g1", 0.01), ("g2", 0.02), ("g3", 0.03)], "gene string, p double"
    )
    expected = {
        "BH": [0.03, 0.03, 0.03],
        "BY": [0.055, 0.055, 0.055],
        "holm": [0.03, 0.04, 0.04],
    }
    for method, want in expected.items():
        for out in _on_both_arms(monkeypatch, df, method):
            assert out["g0"] is None, method
            assert [out[g] for g in ("g1", "g2", "g3")] == pytest.approx(want), method
        two = df.withColumn("part", F.lit("a")).unionByName(
            df.withColumn("part", F.lit("b"))
        )
        parted = p_adjust(two, "p", "adj", method=method, partition_cols=["part"], tiebreak_col="gene")
        for part in ("a", "b"):
            out = {r["gene"]: r["adj"] for r in parted.where(F.col("part") == part).collect()}
            assert out["g0"] is None, (method, part)
            assert [out[g] for g in ("g1", "g2", "g3")] == pytest.approx(want), (method, part)


def test_stouffer_null_for_zero_or_null_fold_changes(spark):
    """A gene whose fold change is 0 on every platform has a zero weight
    sum, and one whose fold change is null on every platform has a null
    one: both get a null z_comb and p_comb (R: NaN), not a divide-by-zero
    error or p = 1e-300.  meta_analysis orders such genes last, as R's
    order() does."""
    df = spark.createDataFrame(
        [
            ("g", "p1", 0.05, 1.0),
            ("g", "p2", 0.05, 1.0),
            ("zero", "p1", 0.05, 0.0),
            ("zero", "p2", 0.02, 0.0),
            ("null", "p1", 0.05, None),
            ("null", "p2", 0.02, None),
        ],
        "gene string, platform string, p double, fc double",
    )
    out = {r["gene"]: r for r in stouffer_combine(df, "gene", "platform", "p", "fc").collect()}
    assert out["g"]["p_comb"] == pytest.approx(0.0055742, abs=1e-5)
    for g in ("zero", "null"):
        assert out[g]["z_comb"] is None and out[g]["p_comb"] is None, g

    from transcriptomics_data_integration_spark.pipelines import meta_analysis

    # gene "a0" has a zero reference mean on both platforms: null log2fc
    rows = []
    for plat in ("P1", "P2"):
        for j in range(6):
            grp = "T" if j < 3 else "N"
            rows.append(("a0", f"{plat}s{j}", plat, float(j + 1) if grp == "T" else 0.0))
            rows.append(("b1", f"{plat}s{j}", plat, 5.0 + j + (6.0 if grp == "T" else 0.0)))
    expr = spark.createDataFrame(rows, ["gene_id", "sample_id", "platform", "value"])
    targets = spark.createDataFrame(
        [(f"{plat}s{j}", "T" if j < 3 else "N") for plat in ("P1", "P2") for j in range(6)],
        ["sample_id", "target"],
    )
    meta = meta_analysis(expr, targets, "T", "N", with_icc=False).collect()
    assert [r["gene_id"] for r in meta] == ["b1", "a0"]
    assert meta[1]["p_comb"] is None and meta[0]["p_comb"] is not None
