"""Named-tool registry — the reference's YAML tool surface, natively.

A reference "tool" is name + description + parameter declarations + statement
(`/root/reference/images/redshift/redshift.yaml:11-42`,
`/root/reference/CONTRIBUTING.md:219-254`). The registry keeps the reference's
canonical tool names and signatures (`list_tables`, `execute_sql`,
`search_entries`, `run_snowflake_query`) so callers of the reference can
switch; each tool is a Python function over DataFrames rather than a SQL
template, and the single Spark engine replaces the per-engine "prebuilt"
profiles (SURVEY.md §2.A A7 — all profiles converge on this surface).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from database_toolbox_spark import catalog as _catalog
from database_toolbox_spark import executor as _executor
from database_toolbox_spark.session import local_frame


@dataclass(frozen=True)
class ToolParam:
    name: str
    type: str
    description: str
    required: bool = False


@dataclass(frozen=True)
class ToolSpec:
    name: str
    description: str
    fn: Callable[..., DataFrame]
    parameters: tuple[ToolParam, ...] = field(default_factory=tuple)

    def __call__(self, spark: SparkSession, **kwargs: Any) -> DataFrame:
        return self.fn(spark, **kwargs)


_REGISTRY: dict[str, ToolSpec] = {}


def register(spec: ToolSpec) -> ToolSpec:
    _REGISTRY[spec.name] = spec
    return spec


def get_tool(name: str) -> ToolSpec:
    return _REGISTRY[name]


def list_tools() -> list[ToolSpec]:
    """Registry listing — the `tools/list` surface
    (tests/postgres/test_mcp.py:74-92)."""
    return list(_REGISTRY.values())


def call_tool(spark: SparkSession, name: str, arguments: dict[str, Any] | None = None
              ) -> list[dict[str, str]]:
    """`tools/call` semantics: look up tool, bind arguments, execute, return
    MCP-shaped content (tests/postgres/test_mcp.py:121-153).

    `max_rows` is a reserved cross-tool argument (default 10,000;
    SPARK_GRAFT_MAX_TOOL_ROWS overrides, 0 disables): results larger than
    the cap are truncated with a trailing {"truncated": true} content item
    so a tool client can't accidentally collect an unbounded table to the
    driver."""
    arguments = dict(arguments or {})
    max_rows = arguments.pop("max_rows", None)
    df = get_tool(name)(spark, **arguments)
    return _executor.capped_mcp_content(
        df, None if max_rows is None else int(max_rows)
    )


# --- canonical toolset ------------------------------------------------------

register(
    ToolSpec(
        name="list_tables",
        description=(
            "Lists detailed schema information (schema, columns, position, "
            "type, nullability) for user tables; table_names is an optional "
            "CSV filter (images/redshift/redshift.yaml:11-42)."
        ),
        fn=lambda spark, table_names="": _catalog.list_tables(spark, table_names),
        parameters=(ToolParam("table_names", "string", "CSV of table names; empty = all"),),
    )
)

register(
    ToolSpec(
        name="list_table_names",
        description="Table names only (sqlite dialect, tests/sqlite/sqlite.yaml:7-24).",
        fn=lambda spark, table_names="": _catalog.list_table_names(spark, table_names),
        parameters=(ToolParam("table_names", "string", "CSV of table names; empty = all"),),
    )
)

register(
    ToolSpec(
        name="execute_sql",
        description=(
            "Execute an arbitrary read-only SQL statement "
            "(images/redshift/redshift.yaml:44-48) behind the statement-type "
            "permission gate."
        ),
        fn=lambda spark, sql: _executor.execute_sql(spark, sql),
        parameters=(ToolParam("sql", "string", "SQL statement", required=True),),
    )
)

register(
    ToolSpec(
        name="run_snowflake_query",
        description=(
            "Gated query execution; alias of execute_sql with the reference's "
            "snowflake statement-class gate "
            "(images/snowflake-mcp/entrypoint.sh:211-232)."
        ),
        fn=lambda spark, statement: _executor.execute_sql(spark, statement),
        parameters=(ToolParam("statement", "string", "SQL statement", required=True),),
    )
)

def _profile_tool(spark: SparkSession, table: str) -> DataFrame:
    from database_toolbox_spark.operators.profile import profile_table  # noqa: PLC0415

    return profile_table(spark, table)


register(
    ToolSpec(
        name="profile_table",
        description=(
            "Column-level data profile (rows, nulls, distincts) of any "
            "registered table — the data-quality companion to list_tables."
        ),
        fn=_profile_tool,
        parameters=(ToolParam("table", "string", "table/view name", required=True),),
    )
)

def _explain_tool(spark: SparkSession, sql: str, mode: str = "formatted") -> DataFrame:
    """EXPLAIN through the same gate as execution: the inner statement must
    itself be permitted (the reference's gate allows Explain as a class but
    never lets it smuggle a write; images/snowflake-mcp/entrypoint.sh:213)."""
    from database_toolbox_spark.gate import check  # noqa: PLC0415

    if mode not in ("simple", "extended", "formatted", "cost", "codegen"):
        raise ValueError(f"unknown explain mode {mode!r}")
    check(sql)
    return spark.sql(f"EXPLAIN {mode.upper()} {sql}")


register(
    ToolSpec(
        name="explain_query",
        description=(
            "Query-plan introspection: EXPLAIN (simple/extended/formatted/"
            "cost/codegen) of a gated statement — the warehouse EXPLAIN "
            "surface the reference exposes via passthrough."
        ),
        fn=_explain_tool,
        parameters=(
            ToolParam("sql", "string", "SQL statement to explain", required=True),
            ToolParam("mode", "string", "explain mode (default formatted)"),
        ),
    )
)

register(
    ToolSpec(
        name="search_entries",
        description=(
            "Catalog search with wildcard query and paging "
            "(dataplex_search_entries, tests/dataplex/test_mcp.py:160-189)."
        ),
        fn=lambda spark, query="*", page_size=10: _catalog.search_entries(
            spark, query, page_size
        ),
        parameters=(
            ToolParam("query", "string", "substring or * wildcard"),
            ToolParam("page_size", "int", "max entries returned"),
        ),
    )
)


# --- Looker-style semantic layer (README.md:844-880 `--prebuilt looker`) ----

def _looker_query_tool(
    spark: SparkSession,
    explore: str,
    fields: str,
    filters: str = "",
    sorts: str = "",
    limit: str = "",
) -> DataFrame:
    """The canonical Looker `query` tool: CSV field list, JSON filters."""
    import json as _json  # noqa: PLC0415

    from database_toolbox_spark import looker as _looker  # noqa: PLC0415
    from database_toolbox_spark.session import active_sf_dir  # noqa: PLC0415

    return _looker.run_query(
        spark,
        active_sf_dir(),
        explore,
        [f.strip() for f in fields.split(",") if f.strip()],
        _json.loads(filters) if filters else None,
        [s.strip() for s in sorts.split(",") if s.strip()] or None,
        int(limit) if limit else None,
    )


def _looker_run_look_tool(spark: SparkSession, look_id: str) -> DataFrame:
    from database_toolbox_spark import looker as _looker  # noqa: PLC0415
    from database_toolbox_spark.session import active_sf_dir  # noqa: PLC0415

    return _looker.run_look(spark, active_sf_dir(), int(look_id))


def _looker_meta(fn_name: str):
    from database_toolbox_spark import looker as _looker  # noqa: PLC0415

    return getattr(_looker, fn_name)


register(
    ToolSpec(
        name="get_models",
        description="Looker toolset: list semantic models (README.md:844-880).",
        fn=lambda spark: _looker_meta("get_models")(spark),
    )
)

register(
    ToolSpec(
        name="get_explores",
        description="Looker toolset: list explores of a model.",
        fn=lambda spark, model="database_toolbox_spark": _looker_meta(
            "get_explores"
        )(spark, model),
        parameters=(ToolParam("model", "string", "model name"),),
    )
)

register(
    ToolSpec(
        name="get_dimensions",
        description="Looker toolset: dimensions of an explore.",
        fn=lambda spark, explore: _looker_meta("get_dimensions")(spark, explore),
        parameters=(ToolParam("explore", "string", "explore name", required=True),),
    )
)

register(
    ToolSpec(
        name="get_measures",
        description="Looker toolset: measures of an explore.",
        fn=lambda spark, explore: _looker_meta("get_measures")(spark, explore),
        parameters=(ToolParam("explore", "string", "explore name", required=True),),
    )
)

register(
    ToolSpec(
        name="query",
        description=(
            "Looker toolset: run an aggregate query over an explore "
            "(fields CSV of dimensions+measures, JSON equality filters, "
            "sorts CSV, limit). Field names resolve through the explore "
            "spec; filter values bind as parameters."
        ),
        fn=_looker_query_tool,
        parameters=(
            ToolParam("explore", "string", "explore name", required=True),
            ToolParam("fields", "string", "CSV of field names", required=True),
            ToolParam("filters", "string", 'JSON object {"dim": "value"}'),
            ToolParam("sorts", "string", "CSV of sort fields"),
            ToolParam("limit", "string", "row limit"),
        ),
    )
)

register(
    ToolSpec(
        name="get_looks",
        description="Looker toolset: list saved looks.",
        fn=lambda spark: _looker_meta("get_looks")(spark),
    )
)

register(
    ToolSpec(
        name="run_look",
        description="Looker toolset: run a saved look by id.",
        fn=_looker_run_look_tool,
        parameters=(ToolParam("look_id", "string", "saved look id", required=True),),
    )
)


def _lookup_entry_tool(spark: SparkSession, entry: str) -> DataFrame:
    return _catalog.lookup_entry(spark, entry)


register(
    ToolSpec(
        name="lookup_entry",
        description=(
            "Dataplex-style single-entry lookup: full column metadata for "
            "one catalog entry (upstream `--prebuilt dataplex` surface, "
            "README.md:692-714); unknown entries raise."
        ),
        fn=_lookup_entry_tool,
        parameters=(ToolParam("entry", "string", "table/entry name", required=True),),
    )
)

register(
    ToolSpec(
        name="search_aspect_types",
        description=(
            "Dataplex-style aspect-type search: distinct column data types "
            "with usage counts, substring-filtered and paged."
        ),
        fn=lambda spark, query="*", page_size=10: _catalog.search_aspect_types(
            spark, query, page_size
        ),
        parameters=(
            ToolParam("query", "string", "substring or * wildcard"),
            ToolParam("page_size", "int", "max rows returned"),
        ),
    )
)


# --- Firestore-style document-collection toolset -----------------------------
# The reference's `--prebuilt firestore` image (images/firestore/entrypoint.sh
# :51, README.md:149) exposes a document-oriented toolset; these are those
# tools over the collection view in document_store.py (tables as collections,
# rows as documents at `<collection>/<key>`).

def _docstore(fn_name: str):
    from database_toolbox_spark import document_store as _ds  # noqa: PLC0415

    return getattr(_ds, fn_name)


register(
    ToolSpec(
        name="list_collections",
        description=(
            "Firestore toolset: list document collections (registered "
            "tables) and their document-id fields. parent_path kept for "
            "upstream signature parity; collections are root-level."
        ),
        fn=lambda spark, parent_path="": _docstore("list_collections")(
            spark, parent_path
        ),
        parameters=(ToolParam("parent_path", "string", "parent document path"),),
    )
)

register(
    ToolSpec(
        name="get_documents",
        description=(
            "Firestore toolset: fetch documents by path "
            "('<collection>/<id>', JSON array or CSV). One row per "
            "requested path in request order: (doc_path, found, data-JSON); "
            "missing paths report found=false."
        ),
        fn=lambda spark, document_paths: _docstore("get_documents")(
            spark, document_paths
        ),
        parameters=(
            ToolParam(
                "document_paths", "string",
                "JSON array or CSV of document paths", required=True,
            ),
        ),
    )
)

register(
    ToolSpec(
        name="query_collection",
        description=(
            "Firestore toolset: query one collection with structured "
            'filters (JSON array of {"field","op","value"}; ops ==, !=, '
            "<, <=, >, >=, in, not-in), optional order_by + direction "
            "(ASCENDING|DESCENDING) and limit. Returns doc_path plus the "
            "document fields as typed columns."
        ),
        fn=lambda spark, collection, filters="", order_by="",
        direction="ASCENDING", limit="", fields="", start_at="",
        start_after="": _docstore(
            "query_collection"
        )(spark, collection, filters, order_by, direction, limit, fields,
          start_at, start_after),
        parameters=(
            ToolParam("collection", "string", "collection id", required=True),
            ToolParam("filters", "string", "JSON array of filter triples"),
            ToolParam("order_by", "string", "field to order by"),
            ToolParam("direction", "string", "ASCENDING or DESCENDING"),
            ToolParam("limit", "string", "row limit"),
            ToolParam("fields", "string", "CSV projection of fields"),
            ToolParam("start_at", "string",
                      "JSON cursor for order_by (inclusive keyset)"),
            ToolParam("start_after", "string",
                      "JSON cursor for order_by (exclusive keyset)"),
        ),
    )
)

register(
    ToolSpec(
        name="aggregate_collection",
        description=(
            "Firestore toolset: aggregation query — count()/sum(field)/"
            'avg(field) (JSON array of {"op","field","alias"} specs) over '
            "an optionally filtered collection. One result row, one "
            "column per aggregate; computed server-side, no document "
            "paging."
        ),
        fn=lambda spark, collection, aggregations, filters="": _docstore(
            "aggregate_collection"
        )(spark, collection, aggregations, filters),
        parameters=(
            ToolParam("collection", "string", "collection id", required=True),
            ToolParam("aggregations", "string",
                      "JSON array of aggregation specs", required=True),
            ToolParam("filters", "string", "JSON array of filter triples"),
        ),
    )
)

register(
    ToolSpec(
        name="get_rules",
        description=(
            "Firestore toolset: the deployment's access-policy source — "
            "the live allow/deny statement-class tables of the SQL gate "
            "(this engine's security-rules analog)."
        ),
        fn=lambda spark: _docstore("get_rules")(spark),
    )
)

_WRITE_TOOL_PARAMS = {
    "add_documents": (
        ToolParam("collection", "string", "collection id", required=True),
        ToolParam("documents", "string",
                  "JSON array of document field dicts (key fields "
                  "required)", required=True),
    ),
    "update_document": (
        ToolParam("collection", "string", "collection id", required=True),
        ToolParam("document_path", "string",
                  "'<collection>/<id>' path of the document",
                  required=True),
        ToolParam("fields", "string", "JSON dict of fields to set",
                  required=True),
    ),
    "delete_documents": (
        ToolParam("collection", "string", "collection id", required=True),
        ToolParam("document_paths", "string",
                  "JSON array or CSV of document paths", required=True),
    ),
}

for _wname in ("add_documents", "update_document", "delete_documents"):
    register(
        ToolSpec(
            name=_wname,
            description=(
                "Firestore toolset (write): deny-by-default — sinks are "
                "explicit writer APIs, never tools. A session may opt in "
                "(spark.conf spark.database_toolbox.docstore.writes = "
                "'session'): writes then execute as session-scoped "
                "copy-on-write VIEW overlays; storage is never touched."
            ),
            fn=(lambda name: (lambda spark, **kw: _docstore(
                "denied_write_tool"
            )(name)(spark, **kw)))(_wname),
            parameters=_WRITE_TOOL_PARAMS[_wname],
        )
    )


# --- external-source registration (the reference's "source" concept) --------

@dataclass(frozen=True)
class JdbcSource:
    """Deployment-time JDBC connection config. In the reference, source
    connections (url, driver, credentials) are operator-set YAML config
    (images/redshift/redshift.yaml:1-8), never tool-caller input — exposing
    them as tool arguments would let any MCP client open arbitrary
    outbound connections (SSRF) or instantiate any driver class on the
    classpath. Declare sources via `register_jdbc_source` or a tools-file
    `sources:` entry with `kind: jdbc`; tool callers then reference them
    by name only."""

    url: str
    driver_class: str


_JDBC_SOURCES: dict[str, JdbcSource] = {}


def register_jdbc_source(name: str, url: str, driver_class: str) -> JdbcSource:
    """Declare a named JDBC connection at deployment time (programmatic
    analog of a tools-file `sources:` entry)."""
    src = JdbcSource(url=url, driver_class=driver_class)
    _JDBC_SOURCES[name] = src
    return src


def get_jdbc_source(name: str) -> JdbcSource:
    if name not in _JDBC_SOURCES:
        raise ValueError(
            f"unknown JDBC source {name!r}; configured sources: "
            f"{sorted(_JDBC_SOURCES)}. Connections are deployment-time "
            "config (register_jdbc_source or a tools-file `sources:` entry "
            "with kind: jdbc), not tool arguments."
        )
    return _JDBC_SOURCES[name]


def _list_jdbc_sources_tool(spark: SparkSession) -> DataFrame:
    """Discovery for the configured JDBC connections: callers see WHICH
    sources exist (name + driver class) without the URLs — connection
    strings can embed credentials, so they stay deployment-side."""
    from pyspark.sql import types as T  # noqa: PLC0415

    rows = [
        (name, src.driver_class) for name, src in sorted(_JDBC_SOURCES.items())
    ]
    return local_frame(
        spark,
        rows,
        T.StructType(
            [
                T.StructField("source_name", T.StringType(), False),
                T.StructField("driver_class", T.StringType(), False),
            ]
        ),
    )


register(
    ToolSpec(
        name="list_jdbc_sources",
        description=(
            "List the configured JDBC source names (deployment-time "
            "connections usable with register_jdbc_table). URLs are not "
            "exposed — they can embed credentials."
        ),
        fn=_list_jdbc_sources_tool,
    )
)


def _register_jdbc_table_tool(
    spark: SparkSession,
    view: str,
    source: str,
    table: str,
    partition_column: str = "",
    num_partitions: str = "8",
    lower_bound: str = "",
    upper_bound: str = "",
) -> DataFrame:
    """Register an external JDBC table as a queryable temp view — the
    Spark-native analog of the reference's source configs (a connection
    makes an engine's tables visible to the tools;
    images/redshift/redshift.yaml:1-8). Returns the registered view's
    column metadata (the lookup_entry shape) so the caller sees what
    became queryable. View names are validated as identifiers; the
    connection (url/driver) resolves from the named deployment-time
    source — callers choose only WHICH configured engine to read and what
    view/partitioning to use."""
    import re as _re  # noqa: PLC0415

    from database_toolbox_spark import catalog as _cat  # noqa: PLC0415
    from database_toolbox_spark.sources.readers import read_jdbc  # noqa: PLC0415

    if not _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", view):
        raise ValueError(f"invalid view name {view!r}")
    conn = get_jdbc_source(source)
    df = read_jdbc(
        spark,
        conn.url,
        table,
        conn.driver_class,
        partition_column=partition_column or None,
        num_partitions=int(num_partitions),
        lower_bound=int(lower_bound) if lower_bound else None,
        upper_bound=int(upper_bound) if upper_bound else None,
    )
    df.createOrReplaceTempView(view)
    rows = [
        ("default", view, f.name, pos, f.dataType.simpleString(),
         "YES" if f.nullable else "NO", None)
        for pos, f in enumerate(df.schema.fields, start=1)
    ]
    return local_frame(spark, rows, _cat.LIST_TABLES_SCHEMA)


register(
    ToolSpec(
        name="register_jdbc_table",
        description=(
            "Register a table from a CONFIGURED JDBC source as a queryable "
            "view (the reference's source-connection concept); returns its "
            "column metadata. Connection url/driver are deployment-time "
            "config (tools-file `sources:` kind: jdbc, or "
            "register_jdbc_source) — `source` names one. Provide "
            "partition_column + bounds for parallel reads at scale."
        ),
        fn=_register_jdbc_table_tool,
        parameters=(
            ToolParam("view", "string", "view name to register", required=True),
            ToolParam("source", "string", "configured JDBC source name", required=True),
            ToolParam("table", "string", "remote table name", required=True),
            ToolParam("partition_column", "string", "numeric split column"),
            ToolParam("num_partitions", "string", "parallel read partitions"),
            ToolParam("lower_bound", "string", "partition column lower bound"),
            ToolParam("upper_bound", "string", "partition column upper bound"),
        ),
    )
)
