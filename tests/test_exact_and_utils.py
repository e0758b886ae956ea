"""Exercise the library paths no suite query reaches: the decimal-exact
moment helpers (and their SQL twins vs DuckDB), the dense-matrix fill,
the interval-join overlap contract, and the registry delta — an
unexecuted path is an unverified path."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from transcriptomics_data_integration_spark.functions.exact import (
    corr_from_moments,
    corr_from_moments_sql,
    dsum,
    dsum2,
    dsum2_sql,
    dsum_sql,
    dsumprod,
    dsumprod_sql,
    var_from_moments,
    var_from_moments_sql,
)


def test_exact_helpers_match_duckdb_twins(spark):
    rows = [(float(f"{i}.{i % 10}{(i * 7) % 10}"), float(i % 13) + 0.25) for i in range(1, 200)]
    df = spark.createDataFrame(rows, ["x", "y"])
    got = df.agg(
        dsum("x").alias("sx"),
        dsum2("x").alias("sx2"),
        dsumprod("x", "y").alias("sxy"),
    ).collect()[0]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (x DOUBLE, y DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = con.execute(
        f"SELECT {dsum_sql('x')}, {dsum2_sql('x')}, {dsumprod_sql('x', 'y')} FROM t"
    ).fetchone()
    assert (got["sx"], got["sx2"], got["sxy"]) == want  # bitwise


def test_moment_corr_and_var_forms(spark):
    import numpy as np

    rng = np.random.default_rng(2)
    xs = np.round(rng.uniform(1, 9, 50), 2)
    ys = np.round(xs * 0.5 + rng.uniform(0, 1, 50), 2)
    df = spark.createDataFrame([(float(a), float(b)) for a, b in zip(xs, ys)], ["x", "y"])
    m = df.agg(
        dsum("x").alias("sx"), dsum("y").alias("sy"),
        dsumprod("x", "y").alias("sxy"),
        dsum2("x").alias("sx2"), dsum2("y").alias("sy2"),
        F.count(F.lit(1)).cast("double").alias("n"),
    )
    out = m.select(
        corr_from_moments(F.col("sx"), F.col("sy"), F.col("sxy"),
                          F.col("sx2"), F.col("sy2"), F.col("n")).alias("r"),
        var_from_moments(F.col("sx"), F.col("sx2"), F.col("n")).alias("v"),
        F.expr(corr_from_moments_sql("sx", "sy", "sxy", "sx2", "sy2", "n")).alias("r_sql"),
        F.expr(var_from_moments_sql("sx", "sx2", "n")).alias("v_sql"),
    ).collect()[0]
    assert out["r"] == pytest.approx(float(np.corrcoef(xs, ys)[0, 1]), rel=1e-12)
    assert out["v"] == pytest.approx(float(np.var(xs, ddof=1)), rel=1e-12)
    assert out["r"] == out["r_sql"] and out["v"] == out["v_sql"]


def test_counts_to_matrix_fills_missing_cells(spark):
    from transcriptomics_data_integration_spark.sources.htseq import counts_to_matrix

    long_counts = spark.createDataFrame(
        [("g1", "s1", 5), ("g2", "s2", 7)], ["gene_id", "sample_id", "read_count"]
    )
    out = {(r["gene_id"], r["sample_id"]): r["read_count"]
           for r in counts_to_matrix(long_counts).collect()}
    assert out == {("g1", "s1"): 5, ("g1", "s2"): 0, ("g2", "s1"): 0, ("g2", "s2"): 7}


def test_overlap_summary_first_gene_and_count(spark):
    from transcriptomics_data_integration_spark.operators.joins import overlap_summary

    joined = spark.createDataFrame(
        [
            ("p1", "gB", 200), ("p1", "gA", 100), ("p1", "gA", 100),  # dup match row
            ("p2", "gC", 300),
        ],
        ["probe", "_g_gene", "_g_start"],
    )
    out = {r["probe"]: r for r in overlap_summary(joined, "probe").collect()}
    assert out["p1"]["gene_id"] == "gA" and out["p1"]["gene_no"] == 2
    assert out["p2"]["gene_id"] == "gC" and out["p2"]["gene_no"] == 1


def test_registry_append_delta_excludes_existing(spark):
    from transcriptomics_data_integration_spark.sources.registry import (
        registry_append_delta,
    )

    existing = spark.createDataFrame([("ds1", "x")], ["dataset", "path"])
    incoming = spark.createDataFrame(
        [("ds1", "y"), ("ds2", "z"), ("ds2", "z2")], ["dataset", "path"]
    )
    out = registry_append_delta(existing, incoming, "dataset").collect()
    assert len(out) == 1 and out[0]["dataset"] == "ds2"
