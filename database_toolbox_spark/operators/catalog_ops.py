"""Catalog tools as correctness-gate queries.

`list_tables` is the reference's most-exercised tool
(`/root/reference/images/redshift/redshift.yaml:11-42`). The oracle-checked
projection is (table_name, column_name, column_position) — names and ordering
are engine-independent, whereas type-name spellings (Spark "bigint" vs DuckDB
"BIGINT") are not; the full 7-column contract shape is covered by unit tests
in tests/test_catalog.py instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from database_toolbox_spark.catalog import list_tables
from database_toolbox_spark.session import (
    TABLES,
    load_tables,
    local_frame,
    table_path,
)


def catalog_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return list_tables(spark, table_names=",".join(TABLES)).select(
        "table_name", "column_name", "column_position"
    )


def fast_table_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only row counts: every table's cardinality read from the
    parquet FOOTER statistics (pyarrow), zero data scanned — the
    "SELECT count(*)" fast path a lakehouse serves from file statistics
    (DuckDB and most warehouses answer bare counts this way; Spark's scan
    operator does not, so the tool reads the same footer metadata
    directly).

    Driver-side work is bounded by FILE COUNT, not rows: one footer read
    per file (thousands of footers at 100 TB — a catalog-sized loop; for
    very large file sets the same call distributes as a binaryFile read
    of _metadata). Oracle recomputes each count by scanning."""
    import pyarrow.parquet as pq  # noqa: PLC0415

    rows = [
        (t, pq.ParquetFile(table_path(sf_dir, t)).metadata.num_rows)
        for t in TABLES
    ]
    return (
        local_frame(spark, rows, "table_name string, n_rows bigint")
        .orderBy("table_name")
    )


_TABLE_LIST = ", ".join(f"'{t}'" for t in TABLES)

QUERIES = {
    "catalog_columns": catalog_columns,
    "fast_table_counts": fast_table_counts,
}

ORACLE = {
    "fast_table_counts": " UNION ALL ".join(
        f"SELECT '{t}' AS table_name, count(*) AS n_rows FROM {t}"
        for t in TABLES
    ) + " ORDER BY table_name",
    "catalog_columns": f"""
        SELECT table_name, column_name,
               CAST(ordinal_position AS INT) AS column_position
        FROM information_schema.columns
        WHERE table_name IN ({_TABLE_LIST})
        ORDER BY table_name, column_position
    """,
}
