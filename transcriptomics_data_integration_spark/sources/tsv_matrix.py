"""S1/S2 — gene x sample TSV matrix scan and sink.

Reference contract: header row + gene IDs in an unnamed first column
(``read.table(..., row.names=1)`` at
`scripts/data_integration/DiffExpression_closedPlatform.R:332`; writer
``prepare2write`` prepends rownames,
`DiffExpression_closedPlatform.R:40-45`).

The engine keeps the long form ``(gene_id, sample_id, value)`` as the
canonical relation (SURVEY.md section 1.1); wide TSV exists only at the
external boundary.  ``melt_wide`` uses the SQL ``stack`` generator —
one pass, no shuffle; ``pivot_long`` always hands ``pivot`` its sample
values, so Spark's own distinct -> limit -> sort pre-job never runs.
``read_matrix_tsv`` reads the header line on the driver, so building
the read runs no Spark job.

Scale: a 100 TB corpus is many matrices; each TSV's sample set is
O(10-1000) columns (`README.md:15-23`) so a pivoted row is always
small.  The genes dimension is the parallel axis.
"""

from __future__ import annotations

import csv

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType


def melt_wide(
    df: DataFrame,
    id_col: str,
    value_cols: list[str] | None = None,
    var_name: str = "sample_id",
    value_name: str = "value",
) -> DataFrame:
    """Wide (one column per sample) -> long.  ``stack`` is generated
    column-pruning-friendly and runs inside whole-stage codegen.  A
    matrix with no sample column (``write_matrix_tsv`` of an empty
    relation writes one) melts to an empty relation, ``var_name``
    string and ``value_name`` double."""
    if value_cols is None:
        value_cols = [c for c in df.columns if c != id_col]
    if not value_cols:
        return df.select(
            F.col(id_col),
            F.lit(None).cast("string").alias(var_name),
            F.lit(None).cast("double").alias(value_name),
        ).where(F.lit(False))
    pairs = ", ".join(f"'{c}', `{c}`" for c in value_cols)
    return df.select(
        F.col(id_col),
        F.expr(f"stack({len(value_cols)}, {pairs}) AS ({var_name}, {value_name})"),
    ).select(id_col, f"{var_name}", f"{value_name}")


def pivot_long(
    df: DataFrame,
    id_col: str,
    var_col: str = "sample_id",
    value_col: str = "value",
    var_values: list[str] | None = None,
) -> DataFrame:
    """Long -> wide, one column per ``var_values`` entry.  Pass
    ``var_values`` when known (SURVEY.md section 4.3); otherwise one
    distinct-collect job reads them, sorted as ``pivot`` sorts them
    (nulls first), and more than ``spark.sql.pivotMaxValues`` distinct
    values raise, as ``pivot`` raises."""
    if var_values is None:
        var_values = sorted(
            (r[0] for r in df.select(var_col).distinct().collect()),
            key=lambda v: (v is not None, v),
        )
        limit = int(df.sparkSession.conf.get("spark.sql.pivotMaxValues"))
        if len(var_values) > limit:
            raise ValueError(
                f"pivot column {var_col!r} has {len(var_values)} distinct values, "
                f"more than spark.sql.pivotMaxValues ({limit})"
            )
    return df.groupBy(id_col).pivot(var_col, var_values).agg(F.first(value_col))


def _is_hidden(name: str) -> bool:
    """Names the file sources skip when listing a directory (Spark's
    ``HadoopFSUtils.shouldFilterOutPathName``)."""
    if name.startswith(("_common_metadata", "_metadata")):
        return False
    return (name.startswith("_") and "=" not in name) or name.startswith(".") or name.endswith(
        "._COPYING_"
    )


def _data_files(jvm, conf, path: str) -> list:
    """The files ``spark.read.csv(path)`` reads, largest
    first (the order its scan packs them in): the path's glob matches,
    directories listed recursively without hidden entries."""
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(conf)
    files = []

    def walk(statuses):
        for st in statuses:
            if st.isDirectory():
                walk(s for s in fs.listStatus(st.getPath()) if not _is_hidden(s.getPath().getName()))
            else:
                files.append(st)

    matches = fs.globStatus(hpath)
    if not matches:
        raise FileNotFoundError(f"no file matches {path!r}")
    walk(matches)
    return [st.getPath() for st in sorted(files, key=lambda st: -st.getLen())]


def _header_cells(spark: SparkSession, path: str) -> list[str]:
    """The column names ``spark.read.csv(path, sep="\\t", header=True)``
    gives, read on the driver: the first non-blank line of the largest
    file (decompressed by the codec Hadoop picks from its name, as the
    text reader does), split on tabs with ``"`` quoting.  As the CSV
    source names them, an empty cell is ``_c<i>``, and a repeated name
    (case-insensitively, unless ``spark.sql.caseSensitive``) gets its
    index appended."""
    jvm = spark._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    codecs = jvm.org.apache.hadoop.io.compress.CompressionCodecFactory(conf)
    line = None
    for hpath in _data_files(jvm, conf, path):
        stream = hpath.getFileSystem(conf).open(hpath)
        codec = codecs.getCodec(hpath)
        if codec is not None:
            stream = codec.createInputStream(stream)
        reader = jvm.java.io.BufferedReader(jvm.java.io.InputStreamReader(stream, "UTF-8"))
        try:
            line = reader.readLine()
            while line is not None and not line.strip():
                line = reader.readLine()
        finally:
            reader.close()
        if line is not None:
            break
    if line is None:
        raise ValueError(f"{path!r} has no header line")
    cells = next(csv.reader([line], delimiter="\t", quotechar='"'))
    case_sensitive = spark.conf.get("spark.sql.caseSensitive") == "true"

    def fold(c: str) -> str:
        return c if case_sensitive else c.lower()

    names = [fold(c) for c in cells if c]
    repeated = {c for c in names if names.count(c) > 1}
    return [
        f"_c{i}" if not c else f"{c}{i}" if fold(c) in repeated else c
        for i, c in enumerate(cells)
    ]


def read_matrix_tsv(
    spark: SparkSession, path: str, gene_col: str = "gene_id"
) -> DataFrame:
    """Read a reference-style TSV matrix into long form.  The unnamed
    rowname column arrives as ``_c0``/first header cell.

    The schema is built from the header line, which the driver reads
    itself (``_header_cells``), so the call runs no Spark job: the
    gene ids stay strings, so a numeric id like ``00123`` keeps its
    zeros, and every sample column is double.  ``NA`` cells read as
    null, as R's ``read.table`` reads them.  Schema inference would
    scan the whole file first."""
    header = _header_cells(spark, path)
    schema = StructType(
        [StructField(header[0], StringType())]
        + [StructField(c, DoubleType()) for c in header[1:]]
    )
    wide = spark.read.csv(path, sep="\t", header=True, schema=schema, nullValue="NA")
    return melt_wide(wide.withColumnRenamed(header[0], gene_col), gene_col)


def write_matrix_tsv(
    df: DataFrame,
    path: str,
    id_col: str = "gene_id",
    var_col: str = "sample_id",
    value_col: str = "value",
    var_values: list[str] | None = None,
) -> None:
    """Long -> wide -> single TSV (external contract; parquet is the
    internal format).  coalesce(1) mirrors the reference's one-file
    output — only for boundary exports, never mid-pipeline."""
    wide = pivot_long(df, id_col, var_col, value_col, var_values)
    wide.coalesce(1).write.mode("overwrite").csv(path, sep="\t", header=True)
