"""Tests for sources (TSV matrix, HTSeq, registry) and the Structured
Streaming ingestion seam."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from transcriptomics_data_integration_spark.sources import (
    melt_wide,
    pivot_long,
    read_htseq_counts,
    read_matrix_tsv,
    registry_upsert,
    write_matrix_tsv,
)
from transcriptomics_data_integration_spark.streaming.ingest import (
    run_stream_to_memory,
    stream_count_files,
)


def test_melt_pivot_roundtrip(spark, tmp_path):
    wide = spark.createDataFrame(
        [("g1", 1.0, 2.0), ("g2", 3.0, 4.0)], ["gene_id", "s1", "s2"]
    )
    long = melt_wide(wide, "gene_id")
    assert long.count() == 4
    assert {r["sample_id"] for r in long.collect()} == {"s1", "s2"}
    back = pivot_long(long, "gene_id", var_values=["s1", "s2"])
    rows = {r["gene_id"]: (r["s1"], r["s2"]) for r in back.collect()}
    assert rows == {"g1": (1.0, 2.0), "g2": (3.0, 4.0)}


def test_tsv_matrix_io_roundtrip(spark, tmp_path):
    long = spark.createDataFrame(
        [("g1", "s1", 1.5), ("g1", "s2", 2.5), ("g2", "s1", 3.5), ("g2", "s2", 4.5)],
        ["gene_id", "sample_id", "value"],
    )
    out = str(tmp_path / "matrix_out")
    write_matrix_tsv(long, out, var_values=["s1", "s2"])
    again = read_matrix_tsv(spark, out)
    got = {(r["gene_id"], r["sample_id"]): r["value"] for r in again.collect()}
    assert got[("g1", "s1")] == 1.5
    assert got[("g2", "s2")] == 4.5


def test_read_matrix_tsv_keeps_string_ids_without_a_job(spark, tmp_path):
    """The reference's matrix layout (unnamed rowname column): an
    all-numeric id column stays strings, an ``NA`` cell reads as null,
    and building the read runs no job: the driver reads the header
    line itself, and no schema-inference scan runs."""
    path = tmp_path / "m.tsv"
    path.write_text("\ts1\ts2\n00123\t1.5\tNA\n00456\t2\t3.25\n")
    sc = spark.sparkContext
    sc.setJobGroup("read_matrix_tsv_jobs", "read_matrix_tsv")
    try:
        long = read_matrix_tsv(spark, str(path))
        jobs = sc.statusTracker().getJobIdsForGroup("read_matrix_tsv_jobs")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(jobs) == 0
    assert dict(long.dtypes) == {"gene_id": "string", "sample_id": "string", "value": "double"}
    got = {(r["gene_id"], r["sample_id"]): r["value"] for r in long.collect()}
    assert got == {
        ("00123", "s1"): 1.5,
        ("00123", "s2"): None,
        ("00456", "s1"): 2.0,
        ("00456", "s2"): 3.25,
    }


def _gzip_tsv(tmp_path, text):
    import gzip

    path = tmp_path / "m.tsv.gz"
    with gzip.open(path, "wt") as f:
        f.write(text)
    return str(path)


def _part_files(tmp_path, text):
    """A directory as a write leaves it: a ``_SUCCESS`` marker (some
    committers write a report into it), checksum files and part files.
    The CSV source reads the header from the largest part file, not
    from a smaller one with another first line, an empty one, or the
    larger hidden files."""
    d = tmp_path / "written"
    d.mkdir()
    (d / "_SUCCESS").write_text("\tcommitter\treport" * 50 + "\n")
    (d / ".part-00001.csv.crc").write_text("\tcrc" * 100 + "\n")
    (d / "part-00000.csv").write_text("")
    (d / "part-00001.csv").write_text(text)
    (d / "part-00002.csv").write_text("\tz1\tz2\n")
    return str(d)


def _plain(name):
    def write(tmp_path, text):
        path = tmp_path / name
        path.write_text(text)
        return str(path)

    return write


HEADER_LAYOUTS = [
    ("empty_first_cell", _plain("m.tsv"), "\ts1\ts2\ng1\t1\t2\n"),
    ("quoted_cell", _plain("m.tsv"), 'gene\t"s 1"\t"s\t2"\ts3\ng1\t1\t2\t3\n'),
    ("blank_first_line", _plain("m.tsv"), "\n\ts1\ts2\ng1\t1\t2\n"),
    ("repeated_names", _plain("m.tsv"), "\tS1\ts1\ts2\t\ng1\t1\t2\t3\t4\n"),
    ("gzip", _gzip_tsv, "\ts1\ts2\ng1\t1\t2\n"),
    ("part_files_with_success", _part_files, "\ts1\ts2\ng1\t1\t2\n"),
]


@pytest.mark.parametrize(
    "write,text", [c[1:] for c in HEADER_LAYOUTS], ids=[c[0] for c in HEADER_LAYOUTS]
)
def test_read_matrix_tsv_header_matches_csv_source(spark, tmp_path, write, text):
    """The driver-read column names are the ones the CSV source itself
    gives the file."""
    from transcriptomics_data_integration_spark.sources.tsv_matrix import _header_cells

    path = write(tmp_path, text)
    want = spark.read.csv(path, sep="\t", header=True).columns
    assert _header_cells(spark, path) == want
    long = read_matrix_tsv(spark, path)
    assert {r["sample_id"] for r in long.collect()} == set(want[1:])


def test_write_matrix_tsv_orders_samples_as_pivot_does(spark, tmp_path):
    """Without ``var_values`` the columns come out in the order Spark's
    own ``pivot`` gives them (sorted, a null sample first as ``null``),
    and the matrix reads back cell for cell."""
    rows = [("g1", "s10", 1.0), ("g1", "S2", 2.0), ("g1", None, 3.0), ("g2", "b1", 4.0), ("g2", "s10", 5.0)]
    long = spark.createDataFrame(rows, "gene_id string, sample_id string, value double")
    out = str(tmp_path / "matrix_out")
    write_matrix_tsv(long, out)
    pivoted = long.groupBy("gene_id").pivot("sample_id").agg(F.first("value"))
    assert spark.read.csv(out, sep="\t", header=True).columns == pivoted.columns
    assert pivoted.columns == ["gene_id", "null", "S2", "b1", "s10"]
    got = {(r["gene_id"], r["sample_id"]): r["value"] for r in read_matrix_tsv(spark, out).collect()}
    want = {(g, "null" if s is None else s): v for g, s, v in rows}
    assert {k: v for k, v in got.items() if v is not None} == want


def test_write_matrix_tsv_of_empty_input_writes_header_only(spark, tmp_path):
    """An empty long relation writes one part file holding the id
    column's header alone."""
    long = spark.createDataFrame([], "gene_id string, sample_id string, value double")
    out = tmp_path / "matrix_out"
    write_matrix_tsv(long, str(out))
    parts = sorted(out.glob("part-*"))
    assert [p.read_text() for p in parts] == ["gene_id\n"]


def test_read_matrix_tsv_reads_an_empty_matrix_back(spark, tmp_path):
    """The header-only file an empty relation writes reads back as an
    empty long relation, with no sample column to melt."""
    long = spark.createDataFrame([], "gene_id string, sample_id string, value double")
    out = str(tmp_path / "matrix_out")
    write_matrix_tsv(long, out)
    back = read_matrix_tsv(spark, out)
    assert back.dtypes == [("gene_id", "string"), ("sample_id", "string"), ("value", "double")]
    assert back.collect() == []


def test_read_htseq_counts_filters_summary_rows(spark, tmp_path):
    d = tmp_path / "counts"
    d.mkdir()
    (d / "sampleA.txt").write_text("geneA\t5\ngeneB\t0\n__no_feature\t99\n")
    (d / "sampleB.txt").write_text("geneA\t7\n__ambiguous\t3\n")
    out = read_htseq_counts(spark, str(d))
    rows = {(r["gene_id"], r["sample_id"]): r["read_count"] for r in out.collect()}
    assert rows == {
        ("geneA", "sampleA"): 5,
        ("geneB", "sampleA"): 0,
        ("geneA", "sampleB"): 7,
    }


def test_registry_upsert_idempotent(spark):
    existing = spark.createDataFrame(
        [("ds1", "t1.txt", "raw", "AffyU133")], ["dataset_name", "target_file", "type", "platform"]
    )
    incoming = spark.createDataFrame(
        [
            ("ds1", "OTHER.txt", "raw", "AffyU133"),   # existing key: ignored
            ("ds2", "t2.txt", "PE", "RNAseq"),
            ("ds2", "t2-dup.txt", "PE", "RNAseq"),     # duplicate incoming key
        ],
        ["dataset_name", "target_file", "type", "platform"],
    )
    out = registry_upsert(existing, incoming, "dataset_name")
    rows = {r["dataset_name"]: r["target_file"] for r in out.collect()}
    assert rows["ds1"] == "t1.txt"
    assert rows["ds2"] in ("t2.txt", "t2-dup.txt")
    assert out.count() == 2
    # replay is a no-op
    assert registry_upsert(out, incoming, "dataset_name").count() == 2


def test_streaming_matches_batch(spark, tmp_path):
    """Structured Streaming contract: the streamed aggregation equals
    the batch aggregation over the same files."""
    d = tmp_path / "ingest"
    d.mkdir()
    (d / "f1.csv").write_text(
        "gene_id\tsample_id\tread_count\tdataset\n"
        "g1\ts1\t5\tds1\ng2\ts1\t3\tds1\n__no_feature\ts1\t9\tds1\n"
    )
    (d / "f2.csv").write_text(
        "gene_id\tsample_id\tread_count\tdataset\ng1\ts2\t7\tds2\n"
    )
    stream = stream_count_files(spark, str(d))
    agg = stream.groupBy("gene_id").agg(F.sum("read_count").alias("total"))
    run_stream_to_memory(agg, "stream_counts", out_mode="complete")
    got = {r["gene_id"]: r["total"] for r in spark.sql("SELECT * FROM stream_counts").collect()}
    assert got == {"g1": 12, "g2": 3}


def test_stateful_running_stats_across_microbatches(spark, tmp_path):
    """State must carry across micro-batches: feed one file, drain,
    feed a second file, drain again — counts accumulate."""
    from transcriptomics_data_integration_spark.streaming.ingest import (
        stateful_running_stats,
    )

    d = tmp_path / "ingest2"
    d.mkdir()
    (d / "a.csv").write_text(
        "gene_id\tsample_id\tread_count\tdataset\ng1\ts1\t5\tds1\ng1\ts2\t7\tds1\n"
    )
    stream = stream_count_files(spark, str(d))
    out = stateful_running_stats(stream, "gene_id", "read_count")
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("running_stats")
        .start()
    )
    try:
        q.processAllAvailable()
        (d / "b.csv").write_text(
            "gene_id\tsample_id\tread_count\tdataset\ng1\ts3\t3\tds2\ng2\ts3\t1\tds2\n"
        )
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql(
        "SELECT * FROM running_stats"
    ).collect()
    # take the LAST update per key
    latest = {}
    for r in rows:
        latest[r["gene_id"]] = (r["n_events"], r["total"])
    assert latest["g1"] == (3, 15.0)
    assert latest["g2"] == (1, 1.0)


def test_convert_rsem_drops_unmapped(spark):
    from transcriptomics_data_integration_spark.sources.rsem import convert_rsem

    rsem = spark.createDataFrame(
        [("TP53", "s1", 10.6), ("BRCA1", "s1", 3.2), ("NOVEL", "s1", 9.9)],
        ["gene_symbol", "sample_id", "expected_count"],
    )
    info = spark.createDataFrame(
        [("TP53", "ENSG1"), ("BRCA1", "ENSG2"), ("BRCA1", "ENSG0")],
        ["gene_symbol", "ensembl_id"],
    )
    out = {r["gene_id"]: r["read_count"] for r in convert_rsem(rsem, info).collect()}
    assert out == {"ENSG1": 11, "ENSG0": 3}  # NOVEL dropped; min id wins


def test_streaming_dedup_emits_first_occurrence_only(spark, tmp_path):
    """Duplicate digests arriving in later files must not be re-emitted
    — state carries across micro-batches."""
    from transcriptomics_data_integration_spark.streaming.ingest import (
        run_stream_to_memory,
        stream_count_files,
        streaming_dedup,
    )

    d = tmp_path / "dedup_ingest"
    d.mkdir()
    (d / "a.tsv").write_text(
        "gene_id\tsample_id\tread_count\tdataset\n"
        "g1\ts1\t5\tds1\ng2\ts1\t7\tds1\n"
    )
    (d / "b.tsv").write_text(
        "gene_id\tsample_id\tread_count\tdataset\n"
        "g1\ts1\t5\tds1\ng3\ts1\t9\tds2\n"  # g1/ds1 is a replay
    )
    stream = stream_count_files(spark, str(d))
    deduped = streaming_dedup(stream, ["gene_id", "dataset"])
    run_stream_to_memory(deduped, "dedup_sink")
    rows = {(r["gene_id"], r["dataset"]) for r in spark.sql("SELECT * FROM dedup_sink").collect()}
    assert rows == {("g1", "ds1"), ("g2", "ds1"), ("g3", "ds2")}
    counts = spark.sql("SELECT COUNT(*) AS n FROM dedup_sink").collect()[0]["n"]
    assert counts == 3


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed on the same key must join with ZERO shuffle
    — the physical plan contains no Exchange operator."""
    from transcriptomics_data_integration_spark.sources.bucketed import (
        read_table,
        write_bucketed,
    )

    facts = spark.createDataFrame(
        [(f"g{i % 40}", f"s{i}", float(i)) for i in range(400)],
        ["gene_id", "sample_id", "value"],
    )
    dim = spark.createDataFrame(
        [(f"g{i}", f"sym{i}") for i in range(40)], ["gene_id", "symbol"]
    )
    write_bucketed(facts, "bt_facts", "gene_id", n_buckets=8)
    write_bucketed(dim, "bt_dim", "gene_id", n_buckets=8)
    joined = read_table(spark, "bt_facts").join(
        read_table(spark, "bt_dim").hint("merge"), "gene_id"
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert joined.count() == 400
    spark.sql("DROP TABLE IF EXISTS bt_facts")
    spark.sql("DROP TABLE IF EXISTS bt_dim")


def test_streaming_sessionize_matches_batch_sessions(spark, tmp_path):
    """Gap-sessionization as a stateful streaming op: sessions split on
    >30min gaps, state carries open sessions across micro-batches, and
    the settled view (last emission per session_start) equals the
    batch-computed sessions over the same events."""
    from pyspark.sql import types as T
    from transcriptomics_data_integration_spark.streaming.ingest import (
        streaming_sessionize,
    )

    ns = 1_000_000_000
    # user 1: two sessions (gap at 3000s); the first session SPANS the
    # file boundary. user 2: one session entirely in the second file.
    f1 = [(1, 0), (1, 600), (1, 1200)]
    f2 = [(1, 1800), (1, 5000), (2, 100), (2, 200)]
    d = tmp_path / "sess"
    d.mkdir()
    for name, rows in (("a.csv", f1), ("b.csv", f2)):
        (d / name).write_text(
            "user_id\tts\n" + "".join(f"{u}\t{t * ns}\n" for u, t in rows)
        )
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.LongType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .csv(str(d), sep="\t", header=True)
    )
    out = streaming_sessionize(stream, "user_id", "ts")
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("sessions")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM sessions").collect()
    # settled view: last emission per (user, session_start)
    settled = {}
    for r in rows:
        settled[(r["user_id"], r["session_start"])] = (
            r["session_end"],
            r["n_events"],
            r["closed"],
        )
    assert settled[(1, 0)] == (1800 * ns, 4, True)          # closed by the gap
    assert settled[(1, 5000 * ns)] == (5000 * ns, 1, False)  # still open
    assert settled[(2, 100 * ns)] == (200 * ns, 2, False)


def test_partitioned_write_prunes_at_plan_time(spark, tmp_path):
    """Partition pruning contract: a filter on the partition column
    must appear as PartitionFilters in the scan and read only the
    matching directory."""
    from transcriptomics_data_integration_spark.sources.bucketed import (
        write_partitioned,
    )

    df = spark.createDataFrame(
        [(i, ["en", "fr", "de"][i % 3], float(i)) for i in range(90)],
        "doc_id long, lang string, score double",
    )
    path = str(tmp_path / "docs_by_lang")
    write_partitioned(df, path, ["lang"], sort_within="doc_id")

    import os

    assert sorted(
        d for d in os.listdir(path) if d.startswith("lang=")
    ) == ["lang=de", "lang=en", "lang=fr"]

    back = spark.read.parquet(path).where(F.col("lang") == "fr")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(lang" in plan
    rows = back.collect()
    assert len(rows) == 30 and all(r["lang"] == "fr" for r in rows)


def test_stream_stream_interval_join_attributes_within_lag(spark, tmp_path):
    """Stream-stream join with watermarks on both sides: clicks join
    their impression iff within the lag bound; state stays bounded by
    the watermark (plan requirement, asserted by the query running at
    all in append mode)."""
    from pyspark.sql import types as T
    from transcriptomics_data_integration_spark.streaming.ingest import (
        streaming_interval_join,
    )

    base = "2026-01-01 10:{m:02d}:00"
    imp_rows = [("a1", base.format(m=0)), ("a2", base.format(m=5))]
    clk_rows = [
        ("a1", base.format(m=10)),   # within 30min of a1 -> match
        ("a2", base.format(m=50)),   # 45min after a2 -> no match
    ]
    d1, d2 = tmp_path / "imp", tmp_path / "clk"
    d1.mkdir(), d2.mkdir()
    (d1 / "a.csv").write_text("ad_id\tlts\n" + "".join(f"{k}\t{t}\n" for k, t in imp_rows))
    (d2 / "a.csv").write_text("ad_id_r\trts\n" + "".join(f"{k}\t{t}\n" for k, t in clk_rows))

    def src(d, key, ts):
        sch = T.StructType(
            [T.StructField(key, T.StringType()), T.StructField(ts, T.TimestampType())]
        )
        return spark.readStream.schema(sch).csv(str(d), sep="\t", header=True)

    joined = streaming_interval_join(
        src(d1, "ad_id", "lts"), src(d2, "ad_id_r", "rts"), "ad_id"
    ).select("ad_id", "lts", "rts")
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("attributed")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM attributed").collect()
    assert [r["ad_id"] for r in rows] == ["a1"]


def test_streaming_window_counts_matches_batch_twin(spark, tmp_path):
    """The library's watermarked tumbling-window agg (not a test-local
    rebuild) over the file stream equals a batch group-by over the same
    rows."""
    from pyspark.sql import types as T
    from transcriptomics_data_integration_spark.streaming.ingest import (
        run_stream_to_memory,
        streaming_window_counts,
    )

    d = tmp_path / "winsrc"
    d.mkdir()
    rows = [
        ("2026-01-01 10:05:00", "click", 1.0),
        ("2026-01-01 10:55:00", "click", 2.0),
        ("2026-01-01 11:05:00", "view", 4.0),
    ]
    (d / "a.csv").write_text(
        "ts\tevent_type\tvalue\n" + "".join(f"{t}\t{k}\t{v}\n" for t, k, v in rows)
    )
    sch = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = spark.readStream.schema(sch).csv(str(d), sep="\t", header=True)
    out = streaming_window_counts(stream, "ts", "event_type", "value")
    run_stream_to_memory(out, "win_counts", out_mode="complete")
    got = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    assert got[("2026-01-01 10:00:00", "click")] == (2, 3.0)
    assert got[("2026-01-01 11:00:00", "view")] == (1, 4.0)


def test_watermark_drops_late_events(spark, tmp_path):
    """Late-data contract: an event older than (max event time -
    watermark) arriving in a later micro-batch is DROPPED — the
    already-aggregated window does not change."""
    from pyspark.sql import types as T
    from transcriptomics_data_integration_spark.streaming.ingest import (
        streaming_window_counts,
    )

    d = tmp_path / "late"
    d.mkdir()
    sch = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    (d / "a.csv").write_text(
        "ts\tevent_type\tvalue\n"
        "2026-01-01 10:05:00\tclick\t1.0\n"
        "2026-01-01 13:00:00\tclick\t1.0\n"  # advances watermark to 12:00
    )
    stream = spark.readStream.schema(sch).csv(str(d), sep="\t", header=True)
    out = streaming_window_counts(stream, "ts", "event_type", "value", watermark="1 hour")
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("late_counts")
        .start()
    )
    try:
        q.processAllAvailable()
        (d / "b.csv").write_text(
            "ts\tevent_type\tvalue\n"
            "2026-01-01 10:10:00\tclick\t100.0\n"   # late: before 12:00 -> dropped
            "2026-01-01 12:30:00\tclick\t5.0\n"     # on time -> new window
        )
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM late_counts").collect()
    latest = {}
    for r in rows:
        latest[str(r["window_start"])] = (r["n_events"], r["sum_value"])
    assert latest["2026-01-01 10:00:00"] == (1, 1.0)   # late 100.0 never merged
    assert latest["2026-01-01 12:00:00"] == (1, 5.0)


def test_streaming_pii_scrub_matches_batch(spark, tmp_path):
    """scrub_pii is a narrow map-side transform, so it lifts onto a
    readStream source unchanged; streamed output equals the batch
    scrub over the same files."""
    from transcriptomics_data_integration_spark.llmdata.text import scrub_pii
    from transcriptomics_data_integration_spark.streaming.ingest import (
        run_stream_to_memory,
    )

    d = tmp_path / "docs"
    d.mkdir()
    rows = [
        (1, "ping admin@example.com from 10.1.2.3"),
        (2, "nothing sensitive here"),
        (3, "ssn 321-54-9876 call +1 555-000-1111"),
    ]
    batch_df = spark.createDataFrame(rows, "doc_id long, text string")
    batch_df.coalesce(1).write.mode("overwrite").parquet(str(d))

    stream = spark.readStream.schema("doc_id long, text string").parquet(str(d))
    scrubbed = scrub_pii(stream, "text").select(
        "doc_id", "n_email", "n_ssn", "n_ipv4", "n_phone", "text_scrubbed"
    )
    run_stream_to_memory(scrubbed, "stream_scrub")
    got = {
        r["doc_id"]: r
        for r in spark.sql("SELECT * FROM stream_scrub").collect()
    }
    want = {
        r["doc_id"]: r
        for r in scrub_pii(spark.read.parquet(str(d)), "text").collect()
    }
    assert set(got) == set(want) == {1, 2, 3}
    for k in got:
        for c in ("n_email", "n_ssn", "n_ipv4", "n_phone", "text_scrubbed"):
            assert got[k][c] == want[k][c]
    assert got[1]["n_email"] == 1 and got[3]["n_ssn"] == 1 and got[3]["n_phone"] == 1


def test_streaming_minhash_neardup_finds_cross_batch_dups(spark, tmp_path):
    """Near-dups arriving in different files (micro-batches) are caught
    via band-bucket state; signatures agree bit-for-bit with the batch
    minhash pipeline."""
    from transcriptomics_data_integration_spark.llmdata.dedup import (
        minhash_sig_columns,
        shingles,
    )
    from transcriptomics_data_integration_spark.streaming.ingest import (
        run_stream_to_memory,
        streaming_minhash_neardup,
    )

    base = "the quick brown fox jumps over the lazy dog again and again " * 3
    d = tmp_path / "stream_docs"
    d.mkdir()
    b1 = spark.createDataFrame(
        [(1, base), (2, "completely different content about spark plans and shuffles")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame([(3, base)], "doc_id long, text string")  # dup of 1
    b1.coalesce(1).write.parquet(str(d / "f1"))
    b2.coalesce(1).write.parquet(str(d / "f2"))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d) + "/*")
    )
    pairs = streaming_minhash_neardup(stream, threshold=0.9)
    run_stream_to_memory(pairs, "stream_neardup")
    got = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in spark.sql("SELECT * FROM stream_neardup").collect()
    }
    assert (1, 3) in got and got[(1, 3)] == 1.0  # exact dup -> full agreement
    assert all(p == (1, 3) for p in got)  # no false pair with doc 2

    # the streamed signature path is bit-identical to the batch one:
    # an exact-dup pair agrees on ALL 16 positions in both worlds
    batch_sigs = {
        r["doc_id"]: [r[f"m{j}"] for j in range(16)]
        for r in minhash_sig_columns(
            shingles(b1.unionByName(b2), "doc_id", "text"), "doc_id"
        ).collect()
    }
    assert set(batch_sigs) == {1, 2, 3}
    assert batch_sigs[1] == batch_sigs[3] != batch_sigs[2]


def test_streaming_minhash_state_cap_evicts_oldest(spark, tmp_path):
    """The per-bucket state cap is load-bearing for bounded state: with
    max_bucket=2, a 4th duplicate arriving after eviction pairs with
    the two RETAINED docs but no longer with the evicted oldest one."""
    from transcriptomics_data_integration_spark.streaming.ingest import (
        run_stream_to_memory,
        streaming_minhash_neardup,
    )

    text = "identical content repeated for the eviction scenario check " * 3
    d = tmp_path / "evict_docs"
    d.mkdir()
    for i in (1, 2, 3, 4):
        spark.createDataFrame([(i, text)], "doc_id long, text string").coalesce(
            1
        ).write.parquet(str(d / f"f{i}"))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d) + "/*")
    )
    pairs = streaming_minhash_neardup(stream, threshold=0.9, max_bucket=2)
    run_stream_to_memory(pairs, "stream_evict")
    got = {
        (r["id_a"], r["id_b"])
        for r in spark.sql("SELECT * FROM stream_evict").collect()
    }
    # docs 1-3: full pairing while state fits; after doc 3 the bucket
    # trims to its 2 most recent entries [2, 3]
    assert {(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)} <= got
    # doc 1 was evicted before doc 4 arrived -> no (1, 4) pair
    assert (1, 4) not in got


def test_streaming_quality_filter_matches_batch(spark, tmp_path):
    """quality_filter (per-rule keep/drop verdicts) is stateless
    per-row SQL, so the same operator runs unchanged on a readStream
    source — at-ingest quality gating with output identical to the
    batch form over the same files."""
    from transcriptomics_data_integration_spark.llmdata.text import quality_filter
    from transcriptomics_data_integration_spark.streaming.ingest import (
        run_stream_to_memory,
    )

    d = tmp_path / "docs"
    d.mkdir()
    rows = [
        (1, "A perfectly ordinary paragraph of prose with sufficient "
            "length, words and normal punctuation to pass every rule."),
        (2, "x"),                          # too short
        (3, "!!! ??? ### $$$ %%% ^^^ &&&"),  # punctuation soup
    ]
    batch_df = spark.createDataFrame(rows, "doc_id long, text string")
    batch_df.coalesce(1).write.mode("overwrite").parquet(str(d))

    stream = spark.readStream.schema("doc_id long, text string").parquet(str(d))
    run_stream_to_memory(quality_filter(stream, "text"), "stream_quality")
    got = {r["doc_id"]: r.asDict() for r in spark.sql("SELECT * FROM stream_quality").collect()}
    want = {
        r["doc_id"]: r.asDict()
        for r in quality_filter(spark.read.parquet(str(d)), "text").collect()
    }
    assert got == want and set(got) == {1, 2, 3}
    assert bool(want[1]["keep"]) and not bool(want[2]["keep"])


def test_read_jsonl_docs_captures_corrupt_lines_and_validates(spark, tmp_path):
    """S-source JSONL contract on real files: schema-projected scan,
    corrupt lines captured (not dropped), required-field validation
    splits clean/rejects with reasons."""
    from transcriptomics_data_integration_spark.sources.jsonl import (
        read_jsonl_docs,
        validate_docs,
    )

    p = tmp_path / "shard.jsonl"
    p.write_text(
        "\n".join(
            [
                '{"doc_id": 1, "text": "hello world", "lang": "en"}',
                '{"doc_id": 2, "text": "bonjour", "lang": "fr"}',
                '{"doc_id": 3, "text": "truncated line',          # parse error
                '{"text": "no id here", "lang": "en"}',            # missing id
                '{"doc_id": 5, "lang": "de"}',                     # missing text
            ]
        )
    )
    df = read_jsonl_docs(spark, str(p), "doc_id LONG, text STRING, lang STRING")
    clean, rejects = validate_docs(df)
    assert sorted(r["doc_id"] for r in clean.collect()) == [1, 2]
    got = {r["reject_reason"]: r for r in rejects.collect()}
    assert set(got) == {"parse_error", "missing_id", "missing_text"}
    # the corrupt raw line is preserved for the audit trail
    assert got["parse_error"]["_corrupt_record"].startswith('{"doc_id": 3')
    assert got["missing_text"]["doc_id"] == 5


def test_read_jsonl_docs_streaming_twin(spark, tmp_path):
    """The same JSONL contract lifts onto readStream (schema required
    for streams anyway) — at-ingest validation for arriving shards."""
    from transcriptomics_data_integration_spark.sources.jsonl import validate_docs
    from transcriptomics_data_integration_spark.streaming.ingest import (
        run_stream_to_memory,
    )

    d = tmp_path / "in"
    d.mkdir()
    (d / "a.jsonl").write_text(
        '{"doc_id": 1, "text": "ok", "lang": "en"}\n{"doc_id": 2, "text": "broken'
    )
    stream = (
        spark.readStream.schema("doc_id LONG, text STRING, lang STRING, _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(str(d))
    )
    clean, rejects = validate_docs(stream)
    run_stream_to_memory(clean, "jsonl_clean")
    run_stream_to_memory(rejects.select("reject_reason"), "jsonl_rejects")
    assert [r["doc_id"] for r in spark.sql("SELECT * FROM jsonl_clean").collect()] == [1]
    assert [r["reject_reason"] for r in spark.sql("SELECT * FROM jsonl_rejects").collect()] == ["parse_error"]


def test_streaming_window_counts_drops_late_events_past_watermark(spark, tmp_path):
    """Watermark semantics under append mode: a window finalizes once
    the watermark passes its end, and an event arriving AFTER that
    (older than the watermark) is dropped — the finalized count never
    changes.  This is the load-bearing guarantee that bounds window
    state at 100 TB stream scale."""
    import json as _json

    from transcriptomics_data_integration_spark.streaming.ingest import (
        streaming_window_counts,
    )

    d = tmp_path / "ev"
    d.mkdir()

    def write(name, rows):
        (d / name).write_text(
            "\n".join(_json.dumps(r) for r in rows)
        )

    # batch 1: two events in window [00:00, 00:10), plus one far-future
    # event that advances the watermark well past that window's end
    write("a.jsonl", [
        {"ts": "2024-01-01 00:01:00", "k": "g1", "v": 1.0},
        {"ts": "2024-01-01 00:04:00", "k": "g1", "v": 2.0},
        {"ts": "2024-01-01 02:00:00", "k": "g1", "v": 9.0},
    ])
    stream = (
        spark.readStream.schema("ts timestamp, k string, v double").json(str(d))
    )
    agg = streaming_window_counts(stream, "ts", "k", "v",
                                  window="10 minutes", watermark="10 minutes")
    q = (
        agg.writeStream.outputMode("append").format("memory")
        .queryName("late_windows")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: a LATE event for the already-finalized window — must
        # be dropped, not re-open the window
        write("b.jsonl", [
            {"ts": "2024-01-01 00:02:00", "k": "g1", "v": 100.0},
            {"ts": "2024-01-01 02:30:00", "k": "g1", "v": 1.0},
        ])
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {
        (str(r["window_start"]), r["k"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM late_windows").collect()
    }
    key = ("2024-01-01 00:00:00", "g1")
    assert key in rows, rows
    # 2 events, sum 3.0 — the late v=100 event did NOT land
    assert rows[key] == (2, 3.0)


def test_write_jsonl_shards_roundtrip_gzip(spark, tmp_path):
    """Sharded gzip JSONL sink roundtrips through the schema-projected
    scan (Spark decompresses .gz transparently); shard sizing follows
    the Catalyst estimate."""
    import os

    from transcriptomics_data_integration_spark.sources.jsonl import (
        read_jsonl_docs,
        validate_docs,
        write_jsonl_shards,
    )

    src = tmp_path / "src"
    spark.createDataFrame(
        [(i, f"document number {i}", "en") for i in range(200)],
        "doc_id long, text string, lang string",
    ).write.parquet(str(src))
    df = spark.read.parquet(str(src))

    out = tmp_path / "shards"
    # target well under estimate/3 (the gzip ratio now scales the
    # uncompressed Catalyst estimate before sizing) -> must split
    n = write_jsonl_shards(df, str(out), target_shard_bytes=1 << 10)
    gz = [f for f in os.listdir(out) if f.endswith(".json.gz")]
    assert n >= 2 and len(gz) >= 1

    back = read_jsonl_docs(
        spark, str(out), "doc_id LONG, text STRING, lang STRING"
    )
    clean, rejects = validate_docs(back)
    assert rejects.count() == 0
    got = sorted((r["doc_id"], r["text"]) for r in clean.collect())
    want = sorted((r["doc_id"], r["text"]) for r in df.collect())
    assert got == want


def test_streaming_winnow_fingerprints_matches_batch(spark, tmp_path):
    """winnow_fingerprints is let-bound array algebra ending in a
    keyed aggregation, so it runs unchanged on a readStream source
    (complete output mode for the agg); streamed fingerprints equal
    the batch relation over the same files."""
    from transcriptomics_data_integration_spark.llmdata.text import (
        winnow_fingerprints,
    )
    from transcriptomics_data_integration_spark.streaming.ingest import (
        run_stream_to_memory,
    )

    d = tmp_path / "winnow_docs"
    d.mkdir()
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox leaps over the lazy dog"),
        (3, "tiny"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.mode("overwrite").parquet(str(d))

    stream = spark.readStream.schema("doc_id long, text string").parquet(str(d))
    run_stream_to_memory(
        winnow_fingerprints(stream, "doc_id", k=5, window=4),
        "stream_winnow",
        out_mode="complete",
    )
    got = {
        (r["doc_id"], r["fingerprint"]): r["n_windows"]
        for r in spark.sql("SELECT * FROM stream_winnow").collect()
    }
    want = {
        (r["doc_id"], r["fingerprint"]): r["n_windows"]
        for r in winnow_fingerprints(
            spark.read.parquet(str(d)), "doc_id", k=5, window=4
        ).collect()
    }
    assert got == want and got
    assert not any(k[0] == 3 for k in got)  # len < k yields no fingerprints


def _cel_bytes(ncols, nrows, cells, magic=64, version=4, truncate=None):
    import struct

    hdr, alg, prm = b"hdr", b"alg", b""
    out = (
        struct.pack("<5i", magic, version, ncols, nrows, len(cells))
        + struct.pack("<i", len(hdr)) + hdr
        + struct.pack("<i", len(alg)) + alg
        + struct.pack("<i", len(prm)) + prm
        + struct.pack("<iIIi", 2, 0, 0, 0)
        + b"".join(struct.pack("<ffh", i, s, n) for i, s, n in cells)
    )
    return out if truncate is None else out[:truncate]


def test_parse_cel_v4_roundtrip_and_rejects():
    """The CEL v4 parser recovers the planted grid bit-exactly and
    rejects wrong-magic / wrong-version / truncated payloads instead
    of mis-reading them."""
    from transcriptomics_data_integration_spark.sources.cel import parse_cel_v4

    cells = [(101.5, 3.25, 9), (7.0, 1.0, 16), (2.5, 0.5, 25), (65535.0, 2.0, 36)]
    good = _cel_bytes(2, 2, cells)
    ncols, nrows, parsed = parse_cel_v4(good)
    assert (ncols, nrows) == (2, 2)
    # row-major: index = y * ncols + x
    assert parsed[1][:2] == (1, 0) and parsed[2][:2] == (0, 1)
    assert [c[2:] for c in parsed] == cells
    assert parse_cel_v4(_cel_bytes(2, 2, cells, magic=65)) is None
    assert parse_cel_v4(_cel_bytes(2, 2, cells, version=3)) is None
    assert parse_cel_v4(good[:-5]) is None  # truncated cell block
    assert parse_cel_v4(b"") is None
    # ncells inconsistent with the grid
    bad = _cel_bytes(2, 2, cells[:3])
    assert parse_cel_v4(bad) is None


def _idat_bytes(ids, means, sds, beads, magic=b"IDAT", version=3,
                drop_field=None, truncate=None):
    import struct

    n = len(ids)
    fields = [(1000, None), (102, None), (103, None), (104, None), (107, None)]
    if drop_field is not None:
        fields = [f for f in fields if f[0] != drop_field]
    base = 16 + 10 * len(fields)
    blocks, offsets, off = [], {}, base
    for code, _ in fields:
        if code == 1000:
            blk = struct.pack("<i", n)
        elif code == 102:
            blk = struct.pack(f"<{n}i", *ids)
        elif code == 103:
            blk = struct.pack(f"<{n}H", *sds)
        elif code == 104:
            blk = struct.pack(f"<{n}H", *means)
        else:
            blk = struct.pack(f"<{n}B", *beads)
        offsets[code] = off
        blocks.append(blk)
        off += len(blk)
    out = (
        magic + struct.pack("<q", version) + struct.pack("<i", len(fields))
        + b"".join(struct.pack("<HQ", c, offsets[c]) for c, _ in fields)
        + b"".join(blocks)
    )
    return out if truncate is None else out[:truncate]


def test_parse_idat_v3_roundtrip_and_rejects():
    """The IDAT v3 parser recovers the planted probe arrays bit-exactly
    and rejects wrong-magic / wrong-version / missing-field / truncated
    payloads instead of mis-reading them."""
    from transcriptomics_data_integration_spark.sources.idat import (
        parse_idat_v3_arrays,
    )

    ids, means, sds, beads = [7, 11, 13, 17], [100, 200, 300, 400], \
        [5, 6, 7, 8], [9, 10, 11, 12]
    good = _idat_bytes(ids, means, sds, beads)
    n, arrays = parse_idat_v3_arrays(good)
    assert n == 4
    assert list(arrays[102]) == ids and list(arrays[104]) == means
    assert list(arrays[103]) == sds and list(arrays[107]) == beads
    assert parse_idat_v3_arrays(_idat_bytes(ids, means, sds, beads,
                                            magic=b"XDAT")) is None
    assert parse_idat_v3_arrays(_idat_bytes(ids, means, sds, beads,
                                            version=1)) is None
    assert parse_idat_v3_arrays(_idat_bytes(ids, means, sds, beads,
                                            drop_field=104)) is None
    assert parse_idat_v3_arrays(good[:-3]) is None  # truncated block
    assert parse_idat_v3_arrays(b"") is None


def test_idat_long_tolerant_scan(spark):
    """idat_long explodes valid IDAT payloads to the per-probe long
    relation and silently drops malformed ones (tolerant-reader
    contract, same stance as the CEL and JSONL sources)."""
    from transcriptomics_data_integration_spark.sources.idat import idat_long

    good = _idat_bytes([7, 11], [100, 200], [5, 6], [9, 10])
    rows = [(1, bytearray(good)), (2, bytearray(b"not an idat"))]
    df = spark.createDataFrame(rows, "sample_id long, payload binary")
    out = idat_long(df).collect()
    assert len(out) == 2
    assert {r["sample_id"] for r in out} == {1}
    by_id = {r["illumina_id"]: r for r in out}
    assert by_id[7]["mean"] == 100 and by_id[7]["sd"] == 5
    assert by_id[11]["n_beads"] == 10 and by_id[11]["n_probes"] == 2


def test_cel_long_tolerant_scan(spark):
    """cel_long explodes valid CEL payloads to the per-cell long
    relation and silently drops malformed ones (tolerant-reader
    contract, same stance as the JSONL source)."""
    from transcriptomics_data_integration_spark.sources.cel import cel_long

    good = _cel_bytes(2, 1, [(5.0, 1.5, 9), (6.0, 2.5, 16)])
    rows = [(1, bytearray(good)), (2, bytearray(b"not a cel file"))]
    df = spark.createDataFrame(rows, "sample_id long, payload binary")
    out = cel_long(df).collect()
    assert len(out) == 2
    assert {r["sample_id"] for r in out} == {1}
    by_x = {r["cell_x"]: r for r in out}
    assert by_x[0]["intensity"] == 5.0 and by_x[1]["npixels"] == 16
    assert by_x[1]["cell_y"] == 0 and by_x[1]["nrows"] == 1


def test_detection_pvalues_ecdf_and_keep_list(spark):
    """detection_pvalues matches a hand-computed negative-control
    upper-tail ECDF (ties counted as >=), zero-control samples yield
    NULL det_p / detected false, and detection_keep_list +
    build_expression_matrix(detection_keep=...) drop undetected probes
    before normalization (the lumiR(detectionTh) -> F12 seam)."""
    from transcriptomics_data_integration_spark.sources.idat import (
        detection_keep_list,
        detection_pvalues,
    )

    rows = [
        # sample 1: controls at 100, 200, 300 (n_neg=3)
        (1, 900, True, 100), (1, 901, True, 200), (1, 902, True, 300),
        (1, 10, False, 350),   # above all controls -> p=0, detected
        (1, 11, False, 300),   # TIES a control -> p=1/3
        (1, 12, False, 150),   # one control above, one tied-above? ->
                               # controls >=150: 200,300 -> p=2/3
        (1, 13, False, 50),    # below all -> p=1
        # sample 2: no controls
        (2, 10, False, 10),
        (2, 11, False, 20),
    ]
    df = spark.createDataFrame(
        rows, "sample_id long, illumina_id int, is_control boolean, mean int"
    )
    det = {
        (r["sample_id"], r["illumina_id"]): r
        for r in detection_pvalues(df, th=0.01).collect()
    }
    assert det[(1, 10)]["det_p"] == 0.0 and det[(1, 10)]["detected"]
    assert det[(1, 11)]["det_p"] == pytest.approx(1 / 3) and not det[(1, 11)]["detected"]
    assert det[(1, 12)]["det_p"] == pytest.approx(2 / 3)
    assert det[(1, 13)]["det_p"] == 1.0
    assert det[(1, 10)]["n_neg"] == 3
    assert det[(2, 10)]["det_p"] is None and not det[(2, 10)]["detected"]
    # keep list: only probe 10 is detected in >= 50% of its samples
    keep = detection_keep_list(detection_pvalues(df, th=0.01))
    assert {r["illumina_id"] for r in keep.collect()} == {10}
    # F12 feed: the pipeline drops probes not in the keep list
    from transcriptomics_data_integration_spark.pipelines.expression import (
        build_expression_matrix,
    )

    inten = spark.createDataFrame(
        [("p10", 1, 5.0), ("p10", 2, 6.0), ("p13", 1, 7.0), ("p13", 2, 8.0)],
        "probe string, sample_id long, value double",
    )
    targets = spark.createDataFrame([(1,), (2,)], "sample_id long")
    outliers = spark.createDataFrame([("999",)], "samples2exclude string")
    pmap = spark.createDataFrame(
        [("p10", "g1"), ("p13", "g2")], "probe string, gene_id string"
    )
    dkeep = spark.createDataFrame([("p10", 1.0)], "probe string, detected_frac double")
    out = build_expression_matrix(
        inten, targets, outliers, pmap, normalize=False, detection_keep=dkeep
    )
    got = {(r["gene_id"], r["sample_id"]): r["value"] for r in out.collect()}
    assert set(g for g, _ in got) == {"g1"}  # p13/g2 filtered by F12


def test_streaming_html_extract_matches_batch(spark, tmp_path):
    """html_extract is a stateless Arrow mapInPandas, so it runs
    unchanged on a readStream source (append mode, no state);
    streamed extractions equal the batch relation over the same
    files — the ingest-time shape of a web-crawl pipeline."""
    from transcriptomics_data_integration_spark.llmdata.text import html_extract
    from transcriptomics_data_integration_spark.streaming.ingest import (
        run_stream_to_memory,
    )

    d = tmp_path / "html_docs"
    d.mkdir()
    rows = [
        (1, "<html><body><p>hello &amp; goodbye</p><script>x</script></body></html>"),
        (2, "<div>one</div><div>two</div>"),
        (3, "<title>skip</title>plain <b>text</b>"),
    ]
    spark.createDataFrame(rows, "doc_id long, html string").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(d))

    batch = {
        r["doc_id"]: (r["text"], r["n_tags"], r["n_dropped_blocks"])
        for r in html_extract(spark.read.parquet(str(d)), "doc_id", "html").collect()
    }
    stream = spark.readStream.schema("doc_id long, html string").parquet(str(d))
    run_stream_to_memory(
        html_extract(stream, "doc_id", "html"), "html_stream", out_mode="append"
    )
    streamed = {
        r["doc_id"]: (r["text"], r["n_tags"], r["n_dropped_blocks"])
        for r in spark.sql("SELECT * FROM html_stream").collect()
    }
    assert streamed == batch
    assert batch[1][0] == "hello & goodbye"


def test_streaming_bloom_contamination_matches_batch(spark, tmp_path):
    """streaming_bloom_contamination (r8): the stateless map twin of
    the batch Bloom screen — same shingling, hashes, and distinct
    semantics, so streamed counts equal the batch kernel's rows over
    the same files."""
    from transcriptomics_data_integration_spark.llmdata.text import (
        bloom_contamination,
    )
    from transcriptomics_data_integration_spark.streaming.ingest import (
        run_stream_to_memory,
        streaming_bloom_contamination,
    )

    rows = [
        (1, "alpha beta gamma delta epsilon shared passage here"),
        (2, "totally different content with no overlap at all xyzq"),
        (3, "shared passage here plus unique trailing words"),
        (4, "zz"),
    ]
    ev = [(100, "the shared passage here sits inside this eval doc")]
    train = spark.createDataFrame(rows, "doc_id long, text string")
    eval_docs = spark.createDataFrame(ev, "doc_id long, text string")

    batch = {
        r["doc_id"]: (r["n_maybe"], r["n_exact"], r["n_false_pos"])
        for r in bloom_contamination(train, eval_docs).collect()
    }

    d = tmp_path / "bloom_docs"
    d.mkdir()
    train.coalesce(1).write.mode("overwrite").parquet(str(d))
    stream = spark.readStream.schema("doc_id long, text string").parquet(str(d))
    run_stream_to_memory(
        streaming_bloom_contamination(stream, eval_docs),
        "stream_bloom",
        out_mode="append",
    )
    got = {
        r["doc_id"]: (r["n_maybe"], r["n_exact"], r["n_false_pos"])
        for r in spark.sql("SELECT * FROM stream_bloom").collect()
    }
    assert got == batch
    assert got[1][1] > 0 and got[3][1] > 0  # real contamination found
    assert 4 not in got or got[4][0] >= 0


def test_streaming_incremental_dedup_matches_batch(spark, tmp_path):
    """streaming_incremental_dedup (r8): the broadcast-index ingest
    twin of incremental_minhash_dedup — same digest/minhash/banding/
    verify/tie rules, so streamed verdicts equal the batch kernel's
    rows over the same files."""
    from transcriptomics_data_integration_spark.llmdata.dedup import (
        incremental_minhash_dedup,
    )
    from transcriptomics_data_integration_spark.streaming.ingest import (
        run_stream_to_memory,
        streaming_incremental_dedup,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    existing = spark.createDataFrame(
        [(1, base), (2, base), (3, "completely different corpus text here")],
        "doc_id long, text string",
    )
    incoming = spark.createDataFrame(
        [
            (10, base),
            (11, base + " qq"),
            (12, "zz-totally-novel-payload"),
            (13, "completely different corpus text here"),
        ],
        "doc_id long, text string",
    )

    def key(r):
        return (
            r["verdict"],
            r["matched_id"],
            r["n_inter"],
            r["n_a"],
            r["n_b"],
            r["jaccard"],
        )

    batch = {
        r["doc_id"]: key(r)
        for r in incremental_minhash_dedup(
            existing, incoming, "doc_id", threshold=0.8
        ).collect()
    }

    d = tmp_path / "inc_docs"
    d.mkdir()
    incoming.coalesce(1).write.mode("overwrite").parquet(str(d))
    stream = spark.readStream.schema("doc_id long, text string").parquet(str(d))
    run_stream_to_memory(
        streaming_incremental_dedup(stream, existing),
        "stream_incdedup",
        out_mode="append",
    )
    got = {
        r["doc_id"]: key(r)
        for r in spark.sql("SELECT * FROM stream_incdedup").collect()
    }
    assert got == batch
    assert got[10][0] == "exact" and got[11][0] == "near" and got[12][0] == "new"


def test_streaming_perceptual_dedup_matches_batch(spark):
    """streaming_perceptual_dedup (r9): near/new verdicts over a
    broadcast band index agree with the batch image_dhash +
    dhash_neardup_pairs pipeline on the same planted corpus."""
    import numpy as np

    from transcriptomics_data_integration_spark.llmdata.multimodal import (
        dhash_neardup_pairs,
        encode_png,
        image_dhash,
    )
    from transcriptomics_data_integration_spark.streaming.ingest import (
        streaming_perceptual_dedup,
    )

    def png(fam, perturb=False):
        g = np.random.RandomState(fam).randint(0, 256, (16, 18)).astype(np.int64)
        if perturb:
            g = g.copy()
            g[6, 9] = (g[6, 9] + 128) % 256
        return bytearray(
            encode_png(np.repeat(np.clip(g, 0, 255).astype(np.uint8)[:, :, None], 3, axis=2))
        )

    existing = spark.createDataFrame(
        [(i, png(i)) for i in range(8)], ["doc_id", "payload"]
    )
    incoming = spark.createDataFrame(
        [
            (100, png(3)),            # exact perceptual copy of kept 3
            (101, png(5, True)),      # near-dup of kept 5
            (102, png(12345)),        # unrelated -> new
        ],
        ["doc_id", "payload"],
    )
    got = {
        r["doc_id"]: (r["verdict"], r["matched_id"])
        for r in streaming_perceptual_dedup(incoming, existing).collect()
    }
    assert got[100] == ("near", 3) and got[102] == ("new", None)
    assert got[101][0] == "near" and got[101][1] == 5

    # batch equivalence: union both sides and run the batch pair join —
    # every streaming 'near' verdict must appear as a batch pair
    both = existing.unionByName(incoming)
    batch_pairs = {
        (p["id_a"], p["id_b"])
        for p in dhash_neardup_pairs(image_dhash(both, "doc_id"), "doc_id").collect()
    }
    assert (3, 100) in batch_pairs and (5, 101) in batch_pairs
    assert not any(102 in pair for pair in batch_pairs)

    # NULL payload guard (r10 ADVICE fix): a missing payload screens as
    # 'new' instead of killing the task with TypeError on bytes(None)
    with_null = spark.createDataFrame(
        [(200, None), (201, png(3))],
        schema=incoming.schema,
    )
    got_null = {
        r["doc_id"]: (r["verdict"], r["matched_id"])
        for r in streaming_perceptual_dedup(with_null, existing).collect()
    }
    assert got_null[200] == ("new", None) and got_null[201] == ("near", 3)


def test_streaming_audio_perceptual_dedup_matches_batch(spark):
    """streaming_audio_perceptual_dedup (r10): near/new verdicts over
    the broadcast band index agree with the batch audio_envelope_hash
    + dhash_neardup_pairs pipeline on the same planted clips; NULL
    payloads screen as 'new'."""
    import numpy as np

    from transcriptomics_data_integration_spark.llmdata.multimodal import (
        audio_envelope_hash,
        dhash_neardup_pairs,
        encode_wav,
    )
    from transcriptomics_data_integration_spark.streaming.ingest import (
        streaming_audio_perceptual_dedup,
    )

    def wav(fam, perturb=False):
        i = np.arange(116, dtype=np.int64)
        s = ((fam % 997 + 3) * (i * 13 + 7)) % 2048 - 1024
        if perturb:
            s = s.copy()
            s[50] += 900
        return bytearray(encode_wav(s.astype(np.int16)))

    existing = spark.createDataFrame(
        [(i, wav(i)) for i in range(8)], ["doc_id", "payload"]
    )
    incoming = spark.createDataFrame(
        [
            (100, wav(3)),          # exact perceptual copy of kept 3
            (101, wav(5, True)),    # near-dup of kept 5
            (102, wav(777)),        # unrelated -> new
            (103, None),            # NULL payload -> new
        ],
        schema=existing.schema,
    )
    got = {
        r["doc_id"]: (r["verdict"], r["matched_id"])
        for r in streaming_audio_perceptual_dedup(incoming, existing).collect()
    }
    assert got[100] == ("near", 3)
    assert got[101][0] == "near" and got[101][1] == 5
    assert got[102] == ("new", None) and got[103] == ("new", None)

    # batch equivalence: union both sides, run the batch pair join
    both = existing.unionByName(incoming.where(F.col("payload").isNotNull()))
    batch_pairs = {
        (p["id_a"], p["id_b"])
        for p in dhash_neardup_pairs(
            audio_envelope_hash(both, "doc_id"), "doc_id",
            hash_col="ahash", max_hamming=3, n_bands=4, n_bits=28,
        ).collect()
    }
    assert (3, 100) in batch_pairs and (5, 101) in batch_pairs
    assert not any(102 in pair for pair in batch_pairs)


def test_tfrecord_codec_roundtrip_and_spark_decode(spark):
    """TFRecord/tf.Example codec (r10): CRC-32C known-answer vector,
    wire-format round-trip across all three feature kinds, framing
    CRC rejection, and the Arrow decode op's integer reductions."""
    from transcriptomics_data_integration_spark.sources.tfrecord import (
        crc32c,
        decode_example,
        decode_tfrecord,
        encode_example,
        encode_tfrecord,
        tfrecord_decode_examples,
    )

    # CRC-32C check vector (RFC 3720 appendix / public test suites)
    assert crc32c(b"123456789") == 0xE3069283
    assert crc32c(b"") == 0

    ex = {
        "doc_id": [42],
        "tokens": [1, -5, 700000000000],   # negative -> 10-byte varint
        "payload": [b"abc", b""],
        "scores": [1.5, -0.25],            # float32-exact values
    }
    assert decode_example(encode_example(ex)) == ex

    stream = encode_tfrecord([encode_example(ex), encode_example({"x": [7]})])
    recs = decode_tfrecord(stream)
    assert len(recs) == 2 and decode_example(recs[1]) == {"x": [7]}
    bad = bytearray(stream)
    bad[20] ^= 1
    assert decode_tfrecord(bytes(bad)) is None  # record CRC
    assert decode_tfrecord(stream[:-2]) is None  # truncated frame

    df = spark.createDataFrame(
        [
            (1, bytearray(encode_tfrecord([
                encode_example({"a": [10, 20], "b": [b"xyz"]}),
                encode_example({"a": [-7]}),
            ]))),
            (2, bytearray(b"\x00" * 16)),  # bad framing: whole stream drops
        ],
        ["doc_id", "payload"],
    )
    rows = {
        (r["doc_id"], r["rec_no"]): (
            r["n_records"], r["n_features"], r["sum_int64"],
            r["n_bytes_vals"], r["bytes_len"],
        )
        for r in tfrecord_decode_examples(df, "doc_id").collect()
    }
    assert rows == {
        (1, 0): (2, 2, 30, 1, 3),
        (1, 1): (2, 1, -7, 0, 0),
    }


def test_tfrecord_encode_docs_sink_roundtrip(spark):
    """tfrecord_encode_docs (r10 sink direction): rows pack into
    framed streams that the decode op reads back exactly; stream
    grouping respects records_per_stream."""
    from transcriptomics_data_integration_spark.sources.tfrecord import (
        decode_example,
        decode_tfrecord,
        tfrecord_encode_docs,
    )

    df = spark.createDataFrame(
        [(i, i * 10, f"doc {i}") for i in range(6)],
        ["doc_id", "score", "text"],
    ).coalesce(1)
    out = tfrecord_encode_docs(
        df, "doc_id", int_cols=["score"], text_cols=["text"],
        records_per_stream=2,
    ).collect()
    assert sum(r["n_records"] for r in out) == 6
    assert all(r["n_records"] == 2 for r in out)
    seen = {}
    for r in out:
        for rec in decode_tfrecord(bytes(r["payload"])):
            ex = decode_example(rec)
            seen[ex["doc_id"][0]] = (ex["score"][0], ex["text"][0])
    assert seen == {i: (i * 10, f"doc {i}".encode()) for i in range(6)}


def test_streaming_video_perceptual_dedup_matches_batch(spark):
    """streaming_video_perceptual_dedup (r11, completing the streaming
    perceptual family): near/new verdicts over the broadcast
    (frame, word) band index agree with the batch video_phash_wide +
    hamming_neardup_pairs_wide pipeline on the same planted corpus."""
    import numpy as np

    from transcriptomics_data_integration_spark.llmdata.multimodal import (
        encode_avi_mjpeg,
        hamming_neardup_pairs_wide,
        video_phash_wide,
    )
    from transcriptomics_data_integration_spark.streaming.ingest import (
        streaming_video_perceptual_dedup,
    )

    ones = np.ones((8, 8), dtype=np.uint8)

    def clip(seed, perturb=False):
        rng = np.random.RandomState(seed)
        frames = []
        for f in range(8):
            v = rng.randint(0, 256, (2, 17))
            if perturb and f == 3:
                v = v.copy()
                v[0, 9] = (v[0, 9] + 128) % 256
            frames.append(np.kron(v.astype(np.uint8), ones))
        return bytearray(encode_avi_mjpeg(frames, fps=12))

    existing = spark.createDataFrame(
        [(i, clip(i)) for i in range(5)], ["doc_id", "payload"]
    )
    incoming = spark.createDataFrame(
        [
            (100, clip(2)),          # exact perceptual copy of kept 2
            (101, clip(4, True)),    # one-frame edit of kept 4
            (102, clip(777)),        # unrelated -> new
        ],
        ["doc_id", "payload"],
    )
    got = {
        r["doc_id"]: (r["verdict"], r["matched_id"])
        for r in streaming_video_perceptual_dedup(incoming, existing).collect()
    }
    assert got[100] == ("near", 2) and got[102] == ("new", None)
    assert got[101][0] == "near" and got[101][1] == 4

    both = existing.unionByName(incoming)
    batch_pairs = {
        (p["id_a"], p["id_b"])
        for p in hamming_neardup_pairs_wide(
            video_phash_wide(both, "doc_id"), "doc_id", max_hamming=3
        ).collect()
    }
    assert (2, 100) in batch_pairs and (4, 101) in batch_pairs
    assert not any(102 in pair for pair in batch_pairs)

    # NULL payload screens as 'new' (the r10 ADVICE contract)
    with_null = spark.createDataFrame(
        [(200, None), (201, clip(2))], schema=incoming.schema
    )
    got_null = {
        r["doc_id"]: (r["verdict"], r["matched_id"])
        for r in streaming_video_perceptual_dedup(with_null, existing).collect()
    }
    assert got_null[200] == ("new", None) and got_null[201] == ("near", 2)
