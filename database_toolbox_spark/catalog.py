"""Catalog introspection tools.

Reimplements the reference's catalog surface natively on `spark.catalog`:

- `list_tables` (redshift/postgres dialect): one row per column of every user
  table, shape (schema_name, table_name, column_name, column_position,
  data_type, is_nullable, column_default), optional CSV table-name filter,
  ordered by (schema, table, position)
  — `/root/reference/images/redshift/redshift.yaml:11-42`, parsed by clients at
  `/root/reference/tests/redshift/example_usage.py:62-65`.
- `list_table_names` (sqlite dialect): table names only, same optional filter
  — `/root/reference/tests/sqlite/sqlite.yaml:7-24`.
- `search_entries` (dataplex-style): wildcard catalog search with paging
  — `/root/reference/tests/dataplex/test_mcp.py:160-189`.

Catalog metadata is inherently tiny (hundreds of rows for thousands of
tables), so rows are assembled driver-side from `spark.catalog` and returned
as a DataFrame — the scan/shuffle machinery is irrelevant here; what matters
at scale is that we read only metadata, never data files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from database_toolbox_spark.session import local_frame

# Row shape contract: images/redshift/redshift.yaml:14-22.
LIST_TABLES_SCHEMA = T.StructType(
    [
        T.StructField("schema_name", T.StringType(), False),
        T.StructField("table_name", T.StringType(), False),
        T.StructField("column_name", T.StringType(), False),
        T.StructField("column_position", T.IntegerType(), False),
        T.StructField("data_type", T.StringType(), False),
        T.StructField("is_nullable", T.StringType(), False),
        T.StructField("column_default", T.StringType(), True),
    ]
)

# System namespaces excluded by the reference tool
# (images/redshift/redshift.yaml:26: NOT IN ('pg_catalog','information_schema')).
SYSTEM_SCHEMAS = ("pg_catalog", "information_schema", "global_temp")


def _csv_names(table_names: str | None) -> list[str] | None:
    """CSV-filter semantics of images/redshift/redshift.yaml:27-31: NULL or
    empty string → no filter; else exact membership in the split list."""
    if table_names is None or table_names.strip() == "":
        return None
    return [t.strip() for t in table_names.split(",") if t.strip()]


def _visible_tables(spark: SparkSession) -> list[tuple[str, str]]:
    """(namespace, name) of user-visible tables/views. Enumerated via
    `SHOW TABLES` — a single Catalyst command (~0.04 s) where
    `catalog.listTables()` resolves per-table metadata over the catalog
    RPC (~1.2 s for 10 views; measured round 3). System namespaces are
    excluded per the reference filter."""
    return [
        (r.namespace, r.tableName)
        for r in spark.sql("SHOW TABLES").collect()
        if r.namespace not in SYSTEM_SCHEMAS
    ]


def list_tables(
    spark: SparkSession, table_names: str | None = "", schema_name: str = "default"
) -> DataFrame:
    """Redshift-dialect `list_tables`: one row per column, ordered."""
    wanted = _csv_names(table_names)
    rows = []
    for namespace, name in _visible_tables(spark):
        if wanted is not None and name not in wanted:
            continue
        schema = namespace or schema_name
        # spark.table(name).schema gives the identical (name, simpleString,
        # nullable) triple as catalog.listColumns but ~30x faster — one
        # analyzed-plan lookup instead of a full catalog RPC per table
        for pos, f in enumerate(spark.table(name).schema.fields, start=1):
            rows.append(
                (
                    schema,
                    name,
                    f.name,
                    pos,
                    f.dataType.simpleString(),
                    "YES" if f.nullable else "NO",
                    None,  # temp views carry no column defaults
                )
            )
    # rows are already driver-local: sort here (ASCII names — Python and
    # UTF8-binary order agree) instead of paying a sort exchange for a
    # ~70-row result
    rows.sort(key=lambda r: (r[0], r[1], r[3]))
    return local_frame(spark, rows, LIST_TABLES_SCHEMA)


def list_table_names(spark: SparkSession, table_names: str | None = "") -> DataFrame:
    """SQLite-dialect `list_tables`: names only, ordered
    (tests/sqlite/sqlite.yaml:15-24)."""
    wanted = _csv_names(table_names)
    names = sorted(
        name
        for _, name in _visible_tables(spark)
        if wanted is None or name in wanted
    )
    return local_frame(
        spark,
        [(n,) for n in names],
        T.StructType([T.StructField("table_name", T.StringType(), False)]),
    )


def search_entries(
    spark: SparkSession, query: str = "*", page_size: int = 10
) -> DataFrame:
    """Dataplex-style catalog search: substring match on table/column names,
    `*` (or empty) matches everything; paged via LIMIT
    (tests/dataplex/test_mcp.py:160-189 calls {"query": "*", "page_size": 1})."""
    cat = list_tables(spark, table_names="")
    if query and query not in ("*", ""):
        q = query.lower().strip("*")
        cat = cat.filter(
            F.lower(F.col("table_name")).contains(q)
            | F.lower(F.col("column_name")).contains(q)
        )
    return cat.orderBy("table_name", "column_position").limit(int(page_size))


def lookup_entry(spark: SparkSession, entry: str) -> DataFrame:
    """Dataplex-style single-entry lookup (`dataplex_lookup_entry` in the
    upstream prebuilt the reference targets via `--prebuilt dataplex`,
    /root/reference/README.md:692-714; no in-repo test pins the row shape,
    so this keeps the list_tables column contract plus the entry name):
    full per-column metadata for ONE catalog entry. Unknown entries raise —
    the lookup tool's error contract, vs search's empty result."""
    cat = list_tables(spark, table_names=entry)
    rows = cat.collect()  # guard-exempt: bounded driver fetch (one table's columns)
    if not rows:
        raise KeyError(f"unknown catalog entry {entry!r}")
    return cat.select(
        F.concat(F.col("schema_name"), F.lit("."), F.col("table_name"))
        .alias("entry_name"),
        "*",
    ).orderBy("column_position")


def search_aspect_types(
    spark: SparkSession, query: str = "*", page_size: int = 10
) -> DataFrame:
    """Dataplex-style aspect-type search (`dataplex_search_aspect_types` in
    the upstream prebuilt): the engine's "aspect types" are its column data
    types — one row per distinct type with its usage count, substring-
    filtered and paged like search_entries."""
    cat = list_tables(spark, table_names="")
    agg = (
        cat.groupBy(F.col("data_type").alias("aspect_type"))
        .agg(
            F.count("*").alias("n_columns"),
            F.countDistinct("table_name").alias("n_tables"),
        )
    )
    if query and query not in ("*", ""):
        agg = agg.filter(
            F.lower(F.col("aspect_type")).contains(query.lower().strip("*"))
        )
    return agg.orderBy("aspect_type").limit(int(page_size))
