"""Driver-contract smoke twins: entry() runs and returns a stable
schema; every declared query is callable; every oracle key has a
query; column names stay aligned between queries() and oracle_sql()
output (the driver's hash compare sorts by column name)."""

from __future__ import annotations

import importlib.util
import sys


def _entry_mod():
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", "/root/repo/__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_entry_returns_stable_flagship_schema(spark):
    mod = _entry_mod()
    df = mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.schema.simpleString() == (
        "struct<l_partkey:bigint,n_a:bigint,n_b:bigint,mean_a:double,"
        "mean_b:double,t_statistic:double,log2fc:double,p_value:double,"
        "adj_p_value:double>"
    )


def test_contract_dict_shapes():
    mod = _entry_mod()
    q, o = mod.queries(), mod.oracle_sql()
    assert set(o) <= set(q), "orphan oracles"
    assert all(callable(f) for f in q.values())
    assert all(isinstance(s, str) and "SELECT" in s.upper() for s in o.values())


def test_load_tables_returns_all_driver_tables(spark):
    from transcriptomics_data_integration_spark.session import load_tables

    t = load_tables(spark, "/root/testdata/sf0.001")
    assert set(t) >= {
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    }
    assert t["region"].count() == 5


def test_session_defaults_fit_host(monkeypatch):
    """Without overrides the local session takes the process's CPU
    affinity count and a heap of half physical memory, capped at 48 g;
    the two environment variables still override both."""
    import os

    from transcriptomics_data_integration_spark import session

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    cpus, mem = session._local_resources()
    assert cpus == len(os.sched_getaffinity(0))
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert mem == f"{max(1, min(48, phys // 2 // (1 << 30)))}g"

    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": (1 << 40) // 4096}  # 1 TiB
    monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)
    assert session._local_resources()[1] == "48g"
    pages["SC_PHYS_PAGES"] = (1 << 30) // 4096  # 1 GiB
    assert session._local_resources()[1] == "1g"

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    assert session._local_resources() == (3, "2g")


def test_no_driver_divergent_oracle_types():
    """Static sweep of every oracle's DESCRIBE'd output types (the r6
    burn): DuckDB types a windowed SUM(BIGINT) as HUGEINT, and the
    driver's pandas/Arrow oracle materialization renders HUGEINT as
    float64 ("903.0" vs Spark's "903") — rows/schema green, hash red
    (CORRECTNESS_r06 `token_budget_sample`).  fetchall()-based local
    gates silently normalize HUGEINT to int, so this class is only
    catchable statically: assert no oracle's final projection carries
    HUGEINT / UHUGEINT / DECIMAL."""
    import duckdb

    sys.path.insert(0, "/root/repo")
    from tools.check import TABLES, oracle_type_problems
    from transcriptomics_data_integration_spark.suite import ORACLES

    con = duckdb.connect()
    sf_dir = "/root/testdata/sf0.001"
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    problems = oracle_type_problems(con, ORACLES)
    assert problems == {}, problems
