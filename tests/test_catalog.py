"""Catalog tool tests: the 7-column list_tables contract
(`/root/reference/images/redshift/redshift.yaml:14-35`, parsed at
`tests/redshift/example_usage.py:62-65`), CSV filter semantics, and the
tool-registry surface (tools list non-empty, required names present —
`tests/redshift/test_mcp.py:177-182`)."""

from __future__ import annotations

import json

import pytest

from database_toolbox_spark import registry
from database_toolbox_spark.catalog import (
    list_table_names,
    list_tables,
    search_aspect_types,
    search_entries,
)
from database_toolbox_spark.session import TABLES, load_tables
from tests.conftest import SF_DIR

CONTRACT_COLUMNS = [
    "schema_name",
    "table_name",
    "column_name",
    "column_position",
    "data_type",
    "is_nullable",
    "column_default",
]


@pytest.fixture(scope="module", autouse=True)
def _views(spark):
    load_tables(spark, SF_DIR)


def test_contract_shape(spark):
    df = list_tables(spark)
    assert df.columns == CONTRACT_COLUMNS
    names = {r.table_name for r in df.collect()}
    assert set(TABLES) <= names


def test_csv_filter(spark):
    rows = list_tables(spark, table_names="lineitem, orders").collect()
    assert {r.table_name for r in rows} == {"lineitem", "orders"}
    # positions are 1-based and dense per table
    li = [r for r in rows if r.table_name == "lineitem"]
    assert [r.column_position for r in li] == list(range(1, len(li) + 1))
    assert li[0].column_name == "l_orderkey"


def test_empty_filter_means_all(spark):
    assert (
        list_tables(spark, table_names="").count()
        == list_tables(spark, table_names=None).count()
    )


def test_list_table_names_sqlite_dialect(spark):
    df = list_table_names(spark)
    assert df.columns == ["table_name"]
    names = [r.table_name for r in df.collect()]
    assert names == sorted(names)
    assert "lineitem" in names


def test_search_entries_wildcard_and_paging(spark):
    assert search_entries(spark, "*", page_size=1).count() == 1
    hits = search_entries(spark, "orderkey", page_size=50).collect()
    assert hits and all("orderkey" in r.column_name for r in hits)


@pytest.mark.parametrize("tool", [search_entries, search_aspect_types])
def test_negative_page_size_raises(spark, tool):
    with pytest.raises(ValueError, match="page_size"):
        tool(spark, "*", page_size=-1)


def test_registry_surface(spark):
    names = {t.name for t in registry.list_tools()}
    assert {"list_tables", "execute_sql"} <= names  # required-tool assertion
    content = registry.call_tool(spark, "list_tables", {"table_names": "region"})
    parsed = [json.loads(c["text"]) for c in content]
    assert [p["column_name"] for p in parsed] == ["r_regionkey", "r_name"]
    got = registry.call_tool(spark, "execute_sql", {"sql": "SELECT 1 AS one"})
    assert json.loads(got[0]["text"]) == {"one": 1}


def test_explain_query_tool(spark):
    out = registry.call_tool(
        spark, "explain_query", {"sql": "SELECT count(*) FROM region"}
    )
    assert "Physical Plan" in json.loads(out[0]["text"])["plan"]
    # the inner statement passes through the same gate as execution
    from database_toolbox_spark.gate import StatementDenied  # noqa: PLC0415

    import pytest  # noqa: PLC0415

    with pytest.raises(StatementDenied):
        registry.call_tool(spark, "explain_query", {"sql": "DROP TABLE region"})
    with pytest.raises(ValueError):
        registry.call_tool(
            spark, "explain_query", {"sql": "SELECT 1", "mode": "verbose"}
        )


def test_profile_table_rejects_injection(spark):
    """The table argument binds via IDENTIFIER(:tbl) — a SQL payload in the
    tool argument must fail to resolve as a name, never execute."""
    import pytest  # noqa: PLC0415

    for payload in [
        "region WHERE 1=0",
        "region; DROP TABLE region",
        "(SELECT * FROM region)",
    ]:
        with pytest.raises(Exception):
            registry.call_tool(spark, "profile_table", {"table": payload})


def test_profile_table_tool(spark):
    content = registry.call_tool(spark, "profile_table", {"table": "region"})
    rows = {json.loads(c["text"])["column_name"]: json.loads(c["text"])
            for c in content}
    assert rows["r_regionkey"]["n_rows"] == 5
    assert rows["r_regionkey"]["n_nulls"] == 0
    assert rows["r_name"]["n_distinct"] == 5


def test_lookup_entry_known_table(spark):
    from database_toolbox_spark.catalog import lookup_entry

    rows = lookup_entry(spark, "orders").collect()
    assert all(r.entry_name == "default.orders" for r in rows)
    assert [r.column_position for r in rows] == list(range(1, len(rows) + 1))
    assert {"o_orderkey", "o_custkey"} <= {r.column_name for r in rows}


def test_lookup_entry_unknown_raises(spark):
    from database_toolbox_spark.catalog import lookup_entry

    with pytest.raises(KeyError, match="no_such_table"):
        lookup_entry(spark, "no_such_table")


def test_search_aspect_types(spark):
    from database_toolbox_spark.catalog import search_aspect_types

    all_types = {r.aspect_type for r in search_aspect_types(spark, "*", 50).collect()}
    assert "bigint" in all_types and "string" in all_types
    filtered = search_aspect_types(spark, "big", 50).collect()
    assert filtered and all("big" in r.aspect_type for r in filtered)
    assert len(search_aspect_types(spark, "*", 2).collect()) == 2


def test_dataplex_tools_registered(spark):
    from database_toolbox_spark import registry

    names = {t.name for t in registry.list_tools()}
    assert {"lookup_entry", "search_aspect_types"} <= names
    out = registry.call_tool(spark, "lookup_entry", {"entry": "nation"})
    assert len(out) == 3  # nation fixture: n_nationkey, n_name, n_regionkey
