"""Tests for ComBat, ICC, permutation FDR, enrichment, ML kernels."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from transcriptomics_data_integration_spark.stats.combat import (
    batch_mean_center,
    check_confounding,
    combat,
)
from transcriptomics_data_integration_spark.stats.enrichment import enrichment_chi2
from transcriptomics_data_integration_spark.stats.icc import icc
from transcriptomics_data_integration_spark.stats.permutation import (
    permutation_fdr,
    permuted_labels,
)


def _expr_df(spark, shift_batch2=5.0, n_genes=6, n_per_batch=8):
    """Two batches; batch b2 shifted by ``shift_batch2`` on every gene."""
    rows = []
    for g in range(n_genes):
        for j in range(n_per_batch):
            base = 10.0 + g + 0.5 * ((g * 7 + j * 3) % 5)
            rows.append((f"g{g}", f"b1_s{j}", "b1", base))
            rows.append((f"g{g}", f"b2_s{j}", "b2", base + shift_batch2 + 0.1 * (j % 3)))
    return spark.createDataFrame(rows, ["gene_id", "sample_id", "batch", "value"])


def test_batch_mean_center_removes_batch_offset(spark):
    df = _expr_df(spark)
    out = batch_mean_center(df, "gene_id", "batch", "value")
    means = (
        out.groupBy("gene_id", "batch")
        .agg(F.avg("value").alias("m"))
        .groupBy("gene_id")
        .agg((F.max("m") - F.min("m")).alias("gap"))
        .collect()
    )
    for r in means:
        assert abs(r["gap"]) < 1e-9


def test_combat_eb_fixed_skips_null_cells(spark):
    """A null cell adjusts the rest of its gene exactly as dropping its
    row does: the per-(gene, batch) n counts values, as the decimal
    sums do."""
    from transcriptomics_data_integration_spark.stats.combat import combat_eb_fixed

    df = _expr_df(spark)
    hole = (F.col("gene_id") == "g0") & F.col("sample_id").isin("b1_s0", "b1_s1")
    nulled = df.withColumn("value", F.when(hole, F.lit(None)).otherwise(F.col("value")))

    def adjusted(d):
        out = combat_eb_fixed(d, "gene_id", "sample_id", "batch", "value").collect()
        return {(r["gene_id"], r["sample_id"]): r["value"] for r in out if r["value"] is not None}

    assert adjusted(nulled) == adjusted(df.where(~hole))


def test_combat_shrinks_batch_effect_and_preserves_scale(spark):
    df = _expr_df(spark)
    out = combat(df, "gene_id", "sample_id", "batch", "value")
    assert out.count() == df.count()
    gaps = (
        out.groupBy("gene_id", "batch")
        .agg(F.avg("value").alias("m"))
        .groupBy("gene_id")
        .agg((F.max("m") - F.min("m")).alias("gap"))
        .collect()
    )
    # batch offset of 5.0 must be (nearly) removed
    for r in gaps:
        assert abs(r["gap"]) < 0.5
    # grand means preserved per gene (ComBat invariant)
    before = {r["gene_id"]: r["m"] for r in df.groupBy("gene_id").agg(F.avg("value").alias("m")).collect()}
    after = {r["gene_id"]: r["m"] for r in out.groupBy("gene_id").agg(F.avg("value").alias("m")).collect()}
    for g in before:
        assert after[g] == pytest.approx(before[g], abs=0.2)


def test_check_confounding(spark):
    ok = spark.createDataFrame(
        [("b1", "T"), ("b1", "N"), ("b2", "T"), ("b2", "N")], ["batch", "grp"]
    )
    bad = spark.createDataFrame([("b1", "T"), ("b2", "N")], ["batch", "grp"])
    assert check_confounding(ok, "batch", "grp")
    assert not check_confounding(bad, "batch", "grp")


def test_icc_concordant_platforms_positive(spark):
    # both platforms carry the same gene-correlation structure ->
    # integrative correlations should be strongly positive
    rows = []
    for plat in ("A", "B"):
        for s in range(8):
            base = float((s * 13) % 7)
            rows.append((plat, "g1", f"{plat}{s}", base))
            rows.append((plat, "g2", f"{plat}{s}", 2.0 * base + 1.0))      # corr +1 with g1
            rows.append((plat, "g3", f"{plat}{s}", -base + 10.0))          # corr -1 with g1
            rows.append((plat, "g4", f"{plat}{s}", float((s * 5 + 3) % 11)))
    cells = spark.createDataFrame(rows, ["platform", "gene_id", "sample_id", "value"])
    out = {r["gene_id"]: r["icc"] for r in icc(cells, ["A", "B"], exact_scale=None).collect()}
    assert out["g1"] == pytest.approx(1.0, abs=1e-6)
    assert out["g2"] == pytest.approx(1.0, abs=1e-6)
    assert out["g3"] == pytest.approx(1.0, abs=1e-6)


def test_permuted_labels_preserve_multiset(spark):
    samples = spark.createDataFrame(
        [(f"s{i}", "A" if i < 3 else "B") for i in range(10)], ["sample_id", "grp"]
    )
    perms = permuted_labels(samples, "sample_id", "grp", n_perm=5)
    counts = (
        perms.groupBy("k", "perm_group").count().groupBy("k")
        .pivot("perm_group", ["A", "B"]).sum("count").collect()
    )
    for r in counts:
        assert (r["A"], r["B"]) == (3, 7)
    # k=0 is the identity permutation
    ident = perms.where("k = 0").join(samples, "sample_id")
    assert ident.where("perm_group != grp").count() == 0


def test_permuted_labels_match_python_deal(spark):
    """A cohort of 300 samples: every permutation deals the labels, in
    sample order, to the samples in md5(sample || '#' || k) order."""
    import hashlib

    labels = {f"s{i:03d}": "ABC"[(i * 7) % 3] for i in range(300)}
    samples = spark.createDataFrame(sorted(labels.items()), ["sample_id", "grp"])
    got = {
        (r["sample_id"], r["k"]): r["perm_group"]
        for r in permuted_labels(samples, "sample_id", "grp", n_perm=3).collect()
    }
    deck = [labels[s] for s in sorted(labels)]
    want = {(s, 0): g for s, g in labels.items()}
    for k in range(1, 4):
        order = sorted(labels, key=lambda s: (hashlib.md5(f"{s}#{k}".encode()).hexdigest(), s))
        want.update({(s, k): deck[i] for i, s in enumerate(order)})
    assert got == want


def test_permutation_fdr_detects_real_effect(spark):
    rows = []
    for s in range(12):
        grp = "A" if s < 6 else "B"
        for g, delta in [("hot", 50.0), ("null", 0.0)]:
            v = 100.0 + (delta if grp == "A" else 0.0) + ((s * 7 + len(g)) % 5)
            rows.append((g, f"s{s:02d}", grp, v))
    df = spark.createDataFrame(rows, ["gene_id", "sample_id", "grp", "value"])
    out = {
        r["gene_id"]: r["p_perm"]
        for r in permutation_fdr(
            df, "gene_id", "sample_id", "grp", "value", "A", "B", n_perm=40, exact_scale=None
        ).collect()
    }
    assert out["hot"] < 0.1
    assert out["null"] > 0.2


def test_enrichment_chi2_flags_enriched_term(spark):
    # term T1 is carried by all significant genes
    gene_terms = spark.createDataFrame(
        [(f"g{i}", "T1" if i < 10 else "T2") for i in range(100)], ["gene_id", "term"]
    )
    sig = spark.createDataFrame([(f"g{i}",) for i in range(10)], ["gene_id"])
    out = enrichment_chi2(gene_terms, sig, "gene_id", "term", top_k=5).collect()
    assert out[0]["term"] == "T1"
    assert out[0]["p_value"] < 1e-6


def test_fisher_enrichment_matches_exact_hypergeometric(spark):
    from fractions import Fraction
    from math import comb

    from transcriptomics_data_integration_spark.stats.enrichment import (
        fisher_enrichment,
    )

    # 100-gene universe, 10 significant; T1 carried by 8 of them
    def term_of(i):
        if i < 8 or i in (40, 41):
            return "T1"
        return "T2" if i % 2 else "T3"

    gene_terms = spark.createDataFrame(
        [(f"g{i:03d}", term_of(i)) for i in range(100)], ["gene_id", "term"]
    )
    sig = spark.createDataFrame([(f"g{i:03d}",) for i in range(10)], ["gene_id"])
    out = {
        r["term"]: r
        for r in fisher_enrichment(gene_terms, sig, "gene_id", "term").collect()
    }

    def exact_tail(n_total, n_term, n_sig, a):
        denom = comb(n_total, n_sig)
        return float(
            sum(
                Fraction(comb(n_term, k) * comb(n_total - n_term, n_sig - k), denom)
                for k in range(a, min(n_sig, n_term) + 1)
            )
        )

    counts = {}
    for i in range(100):
        t = term_of(i)
        n, a = counts.get(t, (0, 0))
        counts[t] = (n + 1, a + (1 if i < 10 else 0))
    for t, (n_term, a) in counts.items():
        assert out[t]["n_term"] == n_term and out[t]["a"] == a
        assert abs(out[t]["p_fisher"] - exact_tail(100, n_term, 10, a)) < 1e-9
    # the planted term is the top hit and wildly enriched
    top = min(out.values(), key=lambda r: r["p_fisher"])
    assert top["term"] == "T1" and top["p_fisher"] < 1e-7


def test_dup_correlation_consensus(spark):
    from transcriptomics_data_integration_spark.stats.dupcorr import (
        consensus_correlation,
        per_gene_block_icc,
    )

    rows = []
    for g in range(5):
        for b in range(4):
            base = 10.0 * b + g  # strong block effect -> high ICC
            for r in range(3):
                rows.append((f"g{g}", b, base + 0.01 * ((r * 7 + g) % 3)))
    df = spark.createDataFrame(rows, ["gene_id", "block", "value"])
    icc = per_gene_block_icc(df, "gene_id", "block", "value")
    vals = [r["icc"] for r in icc.collect()]
    assert len(vals) == 5
    assert all(v > 0.9 for v in vals)
    cons = consensus_correlation(icc).collect()[0]
    assert cons["n_genes"] == 5
    assert cons["consensus_corr"] > 0.9

    # no block effect -> ICC near 0 or negative
    flat = spark.createDataFrame(
        [(f"g{g}", b, float((g * 13 + b * 7 + r * 3) % 11)) for g in range(5) for b in range(4) for r in range(3)],
        ["gene_id", "block", "value"],
    )
    cons2 = consensus_correlation(per_gene_block_icc(flat, "gene_id", "block", "value")).collect()[0]
    assert cons2["consensus_corr"] < 0.5


def test_combat_nonparametric_matches_reference_loop():
    """The blocked log-sum-exp solver must equal a direct transcription
    of the reference's int.eprior loop (R:108-156) on the same moments."""
    import math

    import numpy as np
    import pandas as pd

    from transcriptomics_data_integration_spark.stats.combat import (
        _eb_solver_nonparametric,
    )

    rng = np.random.default_rng(9)
    G, n = 12, 6
    sdat = rng.normal(0, 1, (G, n)) + rng.normal(0, 0.5, (G, 1))
    g_hat = sdat.mean(axis=1)
    d_hat = sdat.var(axis=1, ddof=1)
    pdf = pd.DataFrame(
        {
            "gene_id": [f"g{i}" for i in range(G)],
            "batch": ["b"] * G,
            "n": [n] * G,
            "g_hat": g_hat,
            "d_hat": d_hat,
            "s_sum": sdat.sum(axis=1),
            "s_sum2": (sdat**2).sum(axis=1),
        }
    )
    got = _eb_solver_nonparametric(pdf)
    for i in range(G):
        lls, gs, ds = [], [], []
        for j in range(G):
            if j == i:
                continue
            ll = sum(
                -0.5 * math.log(2 * math.pi * d_hat[j])
                - (sdat[i, k] - g_hat[j]) ** 2 / (2 * d_hat[j])
                for k in range(n)
            )
            lls.append(ll); gs.append(g_hat[j]); ds.append(d_hat[j])
        mx = max(lls)
        ws = [math.exp(v - mx) for v in lls]
        g_exp = sum(w * g for w, g in zip(ws, gs)) / sum(ws)
        d_exp = sum(w * d for w, d in zip(ws, ds)) / sum(ws)
        assert got["gamma_star"][i] == pytest.approx(g_exp, rel=1e-9)
        assert got["delta_star"][i] == pytest.approx(d_exp, rel=1e-9)


def test_ks_test_matches_python_ecdf(spark, monkeypatch):
    """KS statistic against a literal python ECDF computation (with
    ties), p monotone in D."""
    from transcriptomics_data_integration_spark.stats.kstest import ks_test

    import random

    rnd = random.Random(7)
    s1 = [round(rnd.gauss(0, 1), 2) for _ in range(80)]
    s2 = [round(rnd.gauss(0.8, 1), 2) for _ in range(60)]  # shifted
    rows = [("a", v) for v in s1] + [("b", v) for v in s2]
    df = spark.createDataFrame(rows, "grp string, v double")

    got = ks_test(df, "grp", "v", "a", "b").collect()[0]
    values = sorted(set(s1 + s2))
    d_expected = max(
        abs(
            sum(1 for x in s1 if x <= v) / len(s1)
            - sum(1 for x in s2 if x <= v) / len(s2)
        )
        for v in values
    )
    assert got["n1"] == 80 and got["n2"] == 60
    assert abs(got["d_stat"] - d_expected) < 1e-12
    assert 0.0 <= got["p_approx"] < 0.01  # strongly shifted -> tiny p

    # R convention: asymptotic p at lambda = sqrt(n1 n2/(n1+n2)) * D,
    # no Stephens/Numerical-Recipes small-sample terms
    import math

    lam = math.sqrt(80 * 60 / 140) * d_expected
    q = sum(
        2.0 * (-1.0) ** (k - 1) * math.exp(-2.0 * k * k * lam * lam)
        for k in range(1, 9)
    )
    assert got["p_approx"] == pytest.approx(min(max(q, 0.0), 1.0), abs=1e-12)

    # the bucketed two-pass ECDF is bit-identical to the single global
    # window, each forced through the size router
    from transcriptomics_data_integration_spark.operators import windows as W

    for fits in (True, False):
        monkeypatch.setattr(W, "fits_single_task", lambda d, fits=fits: fits)
        alt = ks_test(df, "grp", "v", "a", "b").collect()[0]
        assert alt["d_stat"] == got["d_stat"]
        assert alt["p_approx"] == got["p_approx"]
        assert (alt["n1"], alt["n2"]) == (80, 60)
    monkeypatch.undo()

    # same distribution -> D small, p large
    same = spark.createDataFrame(
        [("a", float(i % 10)) for i in range(100)]
        + [("b", float(i % 10)) for i in range(100)],
        "grp string, v double",
    )
    r2 = ks_test(same, "grp", "v", "a", "b").collect()[0]
    assert r2["d_stat"] == 0.0 and r2["p_approx"] > 0.99


def test_combat_eb_fixed_converges_to_arrow_solver(spark):
    """combat_eb_fixed at high n_iter reproduces the converge-to-
    tolerance Arrow EB solver (residual = prior tick quantization);
    the n_iter=2 gated schedule is a genuine intermediate point."""
    import random

    from transcriptomics_data_integration_spark.stats.combat import (
        combat,
        combat_eb_fixed,
    )

    rng = random.Random(3)
    rows = []
    for g in range(40):
        for b, shift in [("b0", 0.0), ("b1", 3.0), ("b2", -2.0)]:
            for s in range(8):
                rows.append(
                    (f"g{g}", f"{b}_s{s}", b,
                     round(100 + 10 * rng.gauss(0, 1) + shift + g * 0.1, 2))
                )
    df = spark.createDataFrame(
        rows, "gene_id string, sample_id string, batch string, value double"
    )
    ref = {
        (r["gene_id"], r["sample_id"]): r["value"]
        for r in combat(df, "gene_id", "sample_id", "batch", "value").collect()
    }
    fx = {
        (r["gene_id"], r["sample_id"]): r["value"]
        for r in combat_eb_fixed(
            df, "gene_id", "sample_id", "batch", "value", n_iter=50
        ).collect()
    }
    assert set(ref) == set(fx)
    assert max(abs(ref[k] - fx[k]) for k in ref) < 1e-4
    # the fixed 2-step schedule is not yet converged — it must differ
    # (otherwise the gate would be vacuously re-testing the center form)
    fx2 = {
        (r["gene_id"], r["sample_id"]): r["value"]
        for r in combat_eb_fixed(
            df, "gene_id", "sample_id", "batch", "value", n_iter=2
        ).collect()
    }
    assert max(abs(ref[k] - fx2[k]) for k in ref) > 1e-3


def test_icc_partner_sampled_tier(spark):
    """Oracled partner-sampled ICC tier (r7): at partner_frac=1.0 the
    hashed subset keeps every partner, so the result equals exact ICC
    up to the 1e-9 tick quantization; at 0.5 the surviving partner
    set is exactly the md5-hash predicate's, every pair correlation
    matches exact bit-for-bit (subsetting happens BEFORE the join,
    not by approximating r), and the per-gene ICC deviation from
    exact stays bounded."""
    import hashlib

    import numpy as np

    from transcriptomics_data_integration_spark.stats.icc import (
        _pair_corr_moments,
        icc,
    )

    rng = np.random.default_rng(41)
    genes = [f"g{i:02d}" for i in range(20)]
    samples = [f"s{j:02d}" for j in range(15)]
    base = rng.normal(0, 1, (len(genes), len(samples)))
    rows = []
    for plat in ("p1", "p2"):
        mat = base + rng.normal(0, 0.3, base.shape)
        rows += [
            (plat, g, s, float(mat[i, j]))
            for i, g in enumerate(genes)
            for j, s in enumerate(samples)
        ]
    cells = spark.createDataFrame(rows, ["platform", "gene_id", "sample_id", "value"])

    exact = {r["gene_id"]: r["icc"] for r in icc(cells, ["p1", "p2"], exact_scale=None).collect()}
    full = {
        r["gene_id"]: r["icc"]
        for r in icc(cells, ["p1", "p2"], exact_scale=None, partner_frac=1.0).collect()
    }
    assert set(full) == set(exact)
    for g in exact:
        assert full[g] == pytest.approx(exact[g], abs=1e-6), g

    # the 0.5 subset is exactly the md5-hash predicate's
    def keep(h: str) -> bool:
        d = hashlib.md5(f"icc-partner#{h}".encode()).hexdigest()
        return int(d[:15], 16) < int(0.5 * float(1 << 60))

    rr_exact = {
        (r["platform"], r["g"], r["h"]): r["r"]
        for r in _pair_corr_moments(cells, None).collect()
    }
    rr_half = {
        (r["platform"], r["g"], r["h"]): r["r"]
        for r in _pair_corr_moments(cells, None, partner_frac=0.5).collect()
    }
    expect_keys = {k for k in rr_exact if keep(k[2])}
    assert set(rr_half) == expect_keys
    for k, v in rr_half.items():
        assert v == rr_exact[k], k

    half = {
        r["gene_id"]: r["icc"]
        for r in icc(cells, ["p1", "p2"], exact_scale=None, partner_frac=0.5).collect()
    }
    for g, v in half.items():
        assert abs(v - exact[g]) <= 0.5, (g, v, exact[g])


def test_blocked_gls_ttest_matches_matrix_gls(spark):
    """r11 (M9 consumed by M8): the closed-form blocked fit equals the
    full GLS matrix algebra — limma gls.series' Cholesky-transform
    lmFit(block, correlation) evaluated directly: beta = (X'V^-1X)^-1
    X'V^-1 y with V block-diagonal compound-symmetric."""
    import numpy as np

    from transcriptomics_data_integration_spark.stats.dupcorr import (
        blocked_gls_ttest,
    )

    rho = 0.35
    rng_vals = {
        # gene -> {(grp, block): values}  (blocks nested in groups)
        1: {
            ("A", 1): [10.0, 11.5, 9.8],
            ("A", 2): [10.9, 12.1],
            ("B", 3): [14.2, 13.8, 15.0],
            ("B", 4): [13.1, 14.4],
        },
        2: {
            ("A", 1): [5.0, 5.2, 4.9, 5.6],
            ("A", 2): [6.1, 5.8],
            ("B", 3): [5.3, 5.1],
            ("B", 4): [4.8, 5.0, 5.4],
        },
    }
    rows = [
        (g, b, grp, v)
        for g, d in rng_vals.items()
        for (grp, b), vs in d.items()
        for v in vs
    ]
    df = spark.createDataFrame(rows, "gene_id long, block long, grp string, value double")
    got = {
        r["gene_id"]: r
        for r in blocked_gls_ttest(
            df, "gene_id", "block", "grp", "value", "A", "B",
            rho=rho, exact_scale=None, term_scale=12,
        ).collect()
    }

    for g, d in rng_vals.items():
        y, xa, blocks = [], [], []
        for (grp, b), vs in d.items():
            for v in vs:
                y.append(v)
                xa.append(1.0 if grp == "A" else 0.0)
                blocks.append(b)
        y = np.array(y)
        X = np.column_stack([xa, 1.0 - np.array(xa)])
        n = len(y)
        V = np.zeros((n, n))
        for i in range(n):
            for j in range(n):
                V[i, j] = 1.0 if i == j else (rho if blocks[i] == blocks[j] else 0.0)
        Vi = np.linalg.inv(V)
        XtVi = X.T @ Vi
        C = np.linalg.inv(XtVi @ X)
        beta = C @ (XtVi @ y)
        rss = float(y @ Vi @ y - beta @ XtVi @ y)
        s2 = rss / (n - 2)
        t_gold = (beta[0] - beta[1]) / np.sqrt(s2 * (C[0, 0] + C[1, 1]))

        r = got[g]
        assert abs(r["mean_a"] - beta[0]) < 1e-6
        assert abs(r["mean_b"] - beta[1]) < 1e-6
        assert abs(r["t_statistic"] - t_gold) < 1e-6
        # GLS precision identity: C_kk = 1/W_k for nested blocks
        assert abs(r["w_a"] - 1.0 / C[0, 0]) < 1e-6
        assert abs(r["w_b"] - 1.0 / C[1, 1]) < 1e-6


def test_blocked_gls_ttest_downweights_replicates(spark):
    """At rho -> 0 the blocked fit equals the pooled t; at high rho a
    block of technical replicates counts as ~1 effective observation —
    |t| must shrink as rho rises when the signal sits between groups
    but replicates inflate within-group n."""
    from transcriptomics_data_integration_spark.stats.dupcorr import (
        blocked_gls_ttest,
    )
    from transcriptomics_data_integration_spark.stats.ttest import two_group_ttest

    rows = []
    for b, grp, base in [(1, "A", 10.0), (2, "A", 10.6), (3, "B", 12.1), (4, "B", 12.9)]:
        for k in range(5):
            rows.append((1, b, grp, base + 0.05 * k))
    df = spark.createDataFrame(rows, "gene_id long, block long, grp string, value double")

    t_pooled = two_group_ttest(
        df, "gene_id", "grp", "value", "A", "B",
        exact_scale=None, log_scale_values=True,
    ).collect()[0]["t_statistic"]
    t0 = blocked_gls_ttest(
        df, "gene_id", "block", "grp", "value", "A", "B",
        rho=1e-12, exact_scale=None, term_scale=12,
    ).collect()[0]["t_statistic"]
    t_hi = blocked_gls_ttest(
        df, "gene_id", "block", "grp", "value", "A", "B",
        rho=0.9, exact_scale=None, term_scale=12,
    ).collect()[0]["t_statistic"]
    assert abs(t0 - t_pooled) < 1e-4
    assert abs(t_hi) < abs(t0)
    # effective observations: w_g ~ k_blocks at rho ~ 1, n_g at rho ~ 0
    w = blocked_gls_ttest(
        df, "gene_id", "block", "grp", "value", "A", "B",
        rho=0.9, exact_scale=None, term_scale=12,
    ).collect()[0]
    assert 2.0 < w["w_a"] < 3.0  # 2 blocks of 5 at rho=.9 -> ~2.17
