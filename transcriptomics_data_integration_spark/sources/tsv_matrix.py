"""S1/S2 — gene x sample TSV matrix scan and sink.

Reference contract: header row + gene IDs in an unnamed first column
(``read.table(..., row.names=1)`` at
`scripts/data_integration/DiffExpression_closedPlatform.R:332`; writer
``prepare2write`` prepends rownames,
`DiffExpression_closedPlatform.R:40-45`).

The engine keeps the long form ``(gene_id, sample_id, value)`` as the
canonical relation (SURVEY.md section 1.1); wide TSV exists only at the
external boundary.  ``melt_wide`` uses the SQL ``stack`` generator —
one pass, no shuffle; ``pivot_long`` passes explicit sample values to
``pivot`` so no extra distinct-collect job runs.

Scale: a 100 TB corpus is many matrices; each TSV's sample set is
O(10-1000) columns (`README.md:15-23`) so a pivoted row is always
small.  The genes dimension is the parallel axis.
"""

from __future__ import annotations

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
    column-pruning-friendly and runs inside whole-stage codegen."""
    if value_cols is None:
        value_cols = [c for c in df.columns if c != id_col]
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
    """Long -> wide.  Pass ``var_values`` when known to skip the
    distinct-collect pre-job (SURVEY.md section 4.3)."""
    g = df.groupBy(id_col)
    p = g.pivot(var_col, var_values) if var_values else g.pivot(var_col)
    return p.agg(F.first(value_col))


def read_matrix_tsv(
    spark: SparkSession, path: str, gene_col: str = "gene_id"
) -> DataFrame:
    """Read a reference-style TSV matrix into long form.  The unnamed
    rowname column arrives as ``_c0``/first header cell.

    The schema is built from the header line (one job reads it): the
    gene ids stay strings, so a numeric id like ``00123`` keeps its
    zeros, and every sample column is double.  ``NA`` cells read as
    null, as R's ``read.table`` reads them.  The data read itself runs
    no job; schema inference would scan the whole file first."""
    header = spark.read.csv(path, sep="\t", header=True).columns
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
