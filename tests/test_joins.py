"""Interval-join (J6) semantics: overlap detection, first-gene pick,
overlap counting, bucket-boundary straddling; the sample-sheet lookup
(J7) against the join it replaces, and its domain checks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from transcriptomics_data_integration_spark.operators.joins import (
    MAX_SHEET_SAMPLES,
    label_samples,
    left_merge,
)


def _interval_join_small(spark, probes, genes, bucket=100):
    """Inline mirror of the suite's bucketed interval join, small bucket
    to force boundary-straddling coverage."""
    p = spark.createDataFrame(probes, ["probe_id", "chrom", "start", "end"])
    g = spark.createDataFrame(genes, ["gene_id", "chrom", "g_start", "g_end"])
    ge = g.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                (F.col("g_start") / bucket).cast("long"),
                (F.col("g_end") / bucket).cast("long"),
            )
        ),
    )
    pe = p.withColumn(
        "bucket",
        F.explode(
            F.array_distinct(
                F.array(
                    (F.col("start") / bucket).cast("long"),
                    (F.col("end") / bucket).cast("long"),
                )
            )
        ),
    )
    matches = (
        pe.join(ge, ["chrom", "bucket"])
        .where((F.col("start") <= F.col("g_end")) & (F.col("end") >= F.col("g_start")))
        .select("probe_id", "gene_id", "g_start")
        .dropDuplicates(["probe_id", "gene_id"])
    )
    return matches.groupBy("probe_id").agg(
        F.min(F.struct("g_start", "gene_id"))["gene_id"].alias("first_gene"),
        F.countDistinct("gene_id").alias("gene_no"),
    )


def test_interval_join_overlap_and_counts(spark):
    probes = [
        ("p1", "1", 10, 34),     # inside gene A only
        ("p2", "1", 95, 119),    # straddles bucket boundary; overlaps A and B
        ("p3", "1", 500, 524),   # no gene
        ("p4", "2", 10, 34),     # wrong chromosome for A/B, inside C
    ]
    genes = [
        ("A", "1", 0, 100),
        ("B", "1", 110, 300),
        ("C", "2", 0, 50),
    ]
    out = {r["probe_id"]: (r["first_gene"], r["gene_no"]) for r in _interval_join_small(spark, probes, genes).collect()}
    assert out == {"p1": ("A", 1), "p2": ("A", 2), "p4": ("C", 1)}
    assert "p3" not in out


def test_interval_join_touching_endpoints_count(spark):
    # inclusive interval semantics (ArrayAnnot.pl range fetch): probe end
    # == gene start counts as overlap
    probes = [("p1", "1", 90, 110)]
    genes = [("A", "1", 110, 200), ("B", "1", 0, 90)]
    out = _interval_join_small(spark, probes, genes).collect()[0]
    assert out["gene_no"] == 2
    assert out["first_gene"] == "B"


def test_left_merge_null_padding(spark):
    left = spark.createDataFrame([(1, "x"), (2, "y")], ["k", "lv"])
    right = spark.createDataFrame([(1, "r1")], ["k", "rv"])
    out = {r["k"]: r["rv"] for r in left_merge(left, right, "k").collect()}
    assert out == {1: "r1", 2: None}


def test_asof_join_attaches_most_recent_state(spark):
    from transcriptomics_data_integration_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, "u1", 100), (2, "u1", 250), (3, "u1", 90), (4, "u2", 50)],
        ["event_id", "user_id", "ts"],
    )
    right = spark.createDataFrame(
        [(10, "u1", 90, 1.5), (11, "u1", 200, 2.5), (12, "u2", 60, 9.9)],
        ["event_id", "user_id", "ts", "value"],
    )
    out = {
        r["event_id"]: (r["event_id_asof"], r["value_asof"])
        for r in asof_join(
            left, right, ["user_id"], "ts", ["event_id", "value"], "event_id"
        ).collect()
    }
    assert out[1] == (10, 1.5)    # 100 -> view at 90
    assert out[2] == (11, 2.5)    # 250 -> view at 200
    assert out[3] == (10, 1.5)    # equal ts: <= includes the ts=90 view
    assert out[4] == (None, None)  # no preceding state: left-join nulls


def test_asof_join_random_matches_bruteforce(spark):
    import random

    from transcriptomics_data_integration_spark.operators.joins import asof_join

    rnd = random.Random(77)
    left = [(i, f"u{rnd.randint(0, 4)}", rnd.randint(0, 1000)) for i in range(60)]
    right = [
        (100 + i, f"u{rnd.randint(0, 4)}", rnd.randint(0, 1000), float(i))
        for i in range(40)
    ]
    ldf = spark.createDataFrame(left, ["event_id", "user_id", "ts"])
    rdf = spark.createDataFrame(right, ["event_id", "user_id", "ts", "value"])
    got = {
        r["event_id"]: r["event_id_asof"]
        for r in asof_join(
            ldf, rdf, ["user_id"], "ts", ["event_id", "value"], "event_id"
        ).collect()
    }
    for eid, u, ts in left:
        cands = [(rts, rid) for rid, ru, rts, _ in right if ru == u and rts <= ts]
        # brute force: max ts, tie-break max event_id arrives later in
        # the window order (last() keeps the final row of equal ts)
        expect = max(cands)[1] if cands else None
        assert got[eid] == expect, (eid, u, ts)


def test_salted_join_matches_plain_join_on_skewed_keys(spark):
    from transcriptomics_data_integration_spark.operators.joins import salted_join

    # 90% of fact rows share one hot key — the straggler shape salting exists for
    facts = spark.createDataFrame(
        [(("hot" if i % 10 else f"cold{i}"), i, float(i)) for i in range(500)],
        ["k", "seq", "v"],
    )
    dim = spark.createDataFrame(
        [("hot", "H")] + [(f"cold{i}", f"C{i}") for i in range(0, 500, 10)],
        ["k", "attr"],
    )

    plain = {tuple(r) for r in facts.join(dim, ["k"]).collect()}
    salted = salted_join(facts, dim, ["k"], n_salts=7)
    assert "_salt" not in salted.columns
    assert {tuple(r) for r in salted.collect()} == plain

    # left-outer: unmatched fact rows survive with null attr
    lo = salted_join(facts, dim.where(F.col("k") != "hot"), ["k"], how="left")
    hot_rows = lo.where(F.col("k") == "hot").collect()
    assert len(hot_rows) == 450 and all(r["attr"] is None for r in hot_rows)


def test_asof_join_directions_and_tolerance(spark):
    """asof_join r7 surface: forward / nearest directions and
    tolerance nulling, checked against a literal python replay
    (pandas merge_asof semantics; nearest ties -> backward)."""
    from transcriptomics_data_integration_spark.operators.joins import asof_join

    lrows = [("u", i, 100 + i) for i, t in enumerate([10, 25, 40, 70])]
    left = spark.createDataFrame(
        [("u", t, 100 + n) for n, t in enumerate([10, 25, 40, 70])],
        "user_id string, ts long, click_id long",
    )
    right = spark.createDataFrame(
        [("u", 5, 1), ("u", 20, 2), ("u", 30, 3), ("u", 60, 4)],
        "user_id string, ts long, view_id long",
    )

    def run(direction, tolerance=None):
        out = asof_join(
            left, right, ["user_id"], "ts", ["view_id"], "ts",
            direction=direction, tolerance=tolerance,
        )
        return {r["ts"]: r["view_id_asof"] for r in out.collect()}

    # right ts: 5, 20, 30, 60
    assert run("backward") == {10: 1, 25: 2, 40: 3, 70: 4}
    assert run("forward") == {10: 2, 25: 3, 40: 4, 70: None}
    # nearest: 10 -> 5(d5) vs 20(d10) = 1; 25 -> 20(d5) vs 30(d5) tie
    # -> backward = 2; 40 -> 30(d10) vs 60(d20) = 3; 70 -> 60 = 4
    assert run("nearest") == {10: 1, 25: 2, 40: 3, 70: 4}
    # tolerance: backward deltas are 5, 5, 10, 10 -> tol 7 nulls ts 40/70
    assert run("backward", tolerance=7) == {10: 1, 25: 2, 40: None, 70: None}
    assert run("forward", tolerance=7) == {10: None, 25: 3, 40: None, 70: None}
    assert run("nearest", tolerance=5) == {10: 1, 25: 2, 40: None, 70: None}


@pytest.mark.parametrize("id_type", ["string", "bigint"])
def test_label_samples_matches_inner_join(spark, id_type):
    """Row for row the inner join: a sample missing from the sheet and
    a null id lose their cells, a sample listed with a null group keeps
    them, and a sheet row with a null id matches nothing.  Ids compare
    in their own type; 300 samples fill many hash slots."""
    cast = str if id_type == "string" else int
    cells = [(f"g{g}", cast(s), float(g * 1000 + s)) for g in range(3) for s in range(305)]
    cells += [("g0", None, -1.0)]
    sheet = [(cast(s), "T" if s % 2 else "N", f"d{s % 3}") for s in range(300)]
    sheet[7] = (cast(7), None, "d1")
    sheet += [(None, "T", "d0")]
    facts = spark.createDataFrame(cells, f"gene_id string, sample_id {id_type}, value double")
    targets = spark.createDataFrame(sheet, f"sample_id {id_type}, target string, dataset string")
    got = label_samples(facts, targets, "sample_id", "target", "dataset")
    want = facts.join(targets, "sample_id")
    assert got.dtypes == want.dtypes
    assert sorted(got.collect()) == sorted(want.collect())
    assert got.count() == 3 * 300


def test_label_samples_rejects_a_sample_listed_twice(spark):
    """The join would silently double the sample's cells."""
    facts = spark.createDataFrame([("g1", "s1", 1.0)], "gene_id string, sample_id string, value double")
    targets = spark.createDataFrame(
        [("s1", "T"), ("s2", "N"), ("s2", "T")], "sample_id string, target string"
    )
    with pytest.raises(ValueError, match="'s2' more than once"):
        label_samples(facts, targets, "sample_id", "target")


def test_label_samples_rejects_a_sheet_past_its_bound(spark):
    facts = spark.createDataFrame([("g1", 1, 1.0)], "gene_id string, sample_id bigint, value double")
    targets = spark.range(MAX_SHEET_SAMPLES + 1).select(
        F.col("id").alias("sample_id"), F.lit("T").alias("target")
    )
    with pytest.raises(ValueError, match=f"{MAX_SHEET_SAMPLES + 1} samples"):
        label_samples(facts, targets, "sample_id", "target")
    ok = label_samples(facts, targets.where(F.col("sample_id") < MAX_SHEET_SAMPLES), "sample_id", "target")
    assert [r["target"] for r in ok.collect()] == ["T"]
