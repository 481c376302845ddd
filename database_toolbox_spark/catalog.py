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
- `lookup_entry` / `search_aspect_types` (dataplex-style): one entry's
  columns, and the column types with their usage counts.

Catalog metadata is inherently tiny (hundreds of rows for thousands of
tables), so every tool builds its answer on the driver from one column
listing (`_column_rows`): filtering, ordering, paging and counting happen in
Python, and the result is a `local_frame` (a LocalRelation). A catalog
answer runs no Spark job — not even when it is rendered to JSON — and
reads only metadata, never data files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
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


def _column_rows(
    spark: SparkSession, table_names: str | None = "", schema_name: str = "default"
) -> list[tuple]:
    """The `list_tables` rows, built on the driver: one LIST_TABLES_SCHEMA
    tuple per column of every visible table the CSV filter admits, ordered
    by (schema, table, position)."""
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
    # Python and Spark's UTF8-binary string order agree (code point order)
    rows.sort(key=lambda r: (r[0], r[1], r[3]))
    return rows


def _matches(query: str, *values: str) -> bool:
    """Search semantics shared by the Dataplex-style tools: `*` (or empty)
    matches everything, else a case-insensitive substring match on any of
    `values` (surrounding `*` are dropped from the query)."""
    if not query or query == "*":
        return True
    q = query.lower().strip("*")
    return any(q in v.lower() for v in values)


def _page(rows: list, page_size: int) -> list:
    n = int(page_size)
    if n < 0:
        raise ValueError(f"page_size must be >= 0, got {n}")
    return rows[:n]


def list_tables(
    spark: SparkSession, table_names: str | None = "", schema_name: str = "default"
) -> DataFrame:
    """Redshift-dialect `list_tables`: one row per column, ordered."""
    return local_frame(
        spark, _column_rows(spark, table_names, schema_name), LIST_TABLES_SCHEMA
    )


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
    `*` (or empty) matches everything; ordered by (table, position) and
    paged (tests/dataplex/test_mcp.py:160-189 calls
    {"query": "*", "page_size": 1})."""
    rows = [r for r in _column_rows(spark) if _matches(query, r[1], r[2])]
    rows.sort(key=lambda r: (r[1], r[3]))
    return local_frame(spark, _page(rows, page_size), LIST_TABLES_SCHEMA)


def lookup_entry(spark: SparkSession, entry: str) -> DataFrame:
    """Dataplex-style single-entry lookup (`dataplex_lookup_entry` in the
    upstream prebuilt the reference targets via `--prebuilt dataplex`,
    /root/reference/README.md:692-714; no in-repo test pins the row shape,
    so this keeps the list_tables column contract plus the entry name):
    full per-column metadata for ONE catalog entry, ordered by position.
    Unknown entries raise — the lookup tool's error contract, vs search's
    empty result."""
    rows = _column_rows(spark, table_names=entry)
    if not rows:
        raise KeyError(f"unknown catalog entry {entry!r}")
    rows.sort(key=lambda r: r[3])
    return local_frame(
        spark,
        [(f"{r[0]}.{r[1]}", *r) for r in rows],
        T.StructType(
            [T.StructField("entry_name", T.StringType(), False)]
            + LIST_TABLES_SCHEMA.fields
        ),
    )


def search_aspect_types(
    spark: SparkSession, query: str = "*", page_size: int = 10
) -> DataFrame:
    """Dataplex-style aspect-type search (`dataplex_search_aspect_types` in
    the upstream prebuilt): the engine's "aspect types" are its column data
    types — one row per distinct type with its usage count, substring-
    filtered and paged like search_entries."""
    tables: dict[str, list[str]] = {}  # data type -> table of each column
    for r in _column_rows(spark):
        tables.setdefault(r[4], []).append(r[1])
    rows = [
        (t, len(names), len(set(names)))
        for t, names in sorted(tables.items())
        if _matches(query, t)
    ]
    return local_frame(
        spark,
        _page(rows, page_size),
        T.StructType(
            [
                T.StructField("aspect_type", T.StringType(), False),
                T.StructField("n_columns", T.LongType(), False),
                T.StructField("n_tables", T.LongType(), False),
            ]
        ),
    )
