"""Served tool calls stay inside the JVM.

- ``rows_as_json`` writes the exact strings ``Dataset.toJSON`` writes,
  over a corpus of column types and names, and its row cap sits at the
  plan root (CollectLimit / TakeOrderedAndProject, no shuffle).
- A served call runs a fixed number of Spark jobs: one for a capped read,
  one for a docstore fetch or update, none for a catalog answer.
- Driver-local tool results (catalog listings, docstore reads and write
  acknowledgements, looker metadata) and the docstore write overlays are
  LocalRelations. None is a parallelized RDD (``LogicalRDD``), whose every
  scan pipes its partitions through Python workers.
- A looker query registers only its explore's tables.
"""

from __future__ import annotations

import json
import re

import pytest

from database_toolbox_spark import looker, registry
from database_toolbox_spark.document_store import WRITES_CONF
from database_toolbox_spark.executor import (
    capped_mcp_content,
    json_rows,
    rows_as_json,
)
from database_toolbox_spark.plans import explain_str
from database_toolbox_spark.session import TABLES, load_tables, measured
from tests.conftest import SF_DIR


@pytest.fixture(scope="module", autouse=True)
def _tables(spark):
    load_tables(spark, SF_DIR)


ORDERED = "SELECT id, id % 7 AS k FROM range(200) ORDER BY k DESC, id"

CORPUS = {
    "nulls": (
        "SELECT * FROM VALUES (1, 'a', CAST(NULL AS DOUBLE), true), "
        "(2, NULL, 1.5, NULL), (NULL, NULL, NULL, NULL) AS t(i, s, d, b)"
    ),
    "temporal": (
        "SELECT TIMESTAMP'2020-01-01 01:02:03.456' AS ts, "
        "DATE'2020-02-03' AS d, TIMESTAMP_NTZ'2021-05-06 07:08:09' AS ntz, "
        "CAST(NULL AS TIMESTAMP) AS ts_null, "
        "DATE'2020-01-05' - DATE'2020-01-01' AS day_interval, "
        "INTERVAL '3' HOUR AS hour_interval, "
        "INTERVAL '1-2' YEAR TO MONTH AS ym_interval, "
        "INTERVAL '2' YEAR AS year_interval"
    ),
    "decimal_binary": (
        "SELECT CAST(1.50 AS DECIMAL(10, 3)) AS dec, "
        "CAST(-12345.6789 AS DECIMAL(38, 10)) AS wide, "
        "CAST('ab' AS BINARY) AS bin, CAST(1.0E20 AS FLOAT) AS fl, "
        "CAST('NaN' AS DOUBLE) AS nan, 1.0D / 3 AS third"
    ),
    "nested": (
        "SELECT array(1, NULL, 3) AS arr, map('k', NULL, 'j', 2) AS m, "
        "map(1, 'a') AS int_keys, "
        "named_struct('p', NULL, 'q', 2, 'r', array(named_struct("
        "'x', TIMESTAMP'2020-01-01 00:00:00', 'y', INTERVAL '1' DAY))) "
        "AS s, array(map('a', array(1))) AS deep"
    ),
    "names": "SELECT 1 AS a, 2 AS a, 'x' AS `b.c`, 'y' AS `b`, 3 AS `x y`",
    "quoted": (
        "SELECT 1 AS `a``b`, named_struct('a b', INTERVAL '1' DAY, "
        "'c`d', array(INTERVAL '2' HOUR)) AS `s``t`"
    ),
    "empty": "SELECT id, CAST(id AS STRING) AS s FROM range(5) WHERE id < 0",
    "ordered": ORDERED,
    "table": "SELECT * FROM orders WHERE o_orderkey < 100",
    "command": "SHOW TABLES",
}


@pytest.mark.parametrize("name", sorted(CORPUS))
def test_rows_as_json_is_byte_identical_to_toJSON(spark, name):
    df = spark.sql(CORPUS[name])
    assert rows_as_json(df) == df.toJSON().collect()


def test_rows_as_json_keeps_duplicate_names_and_null_omission(spark):
    df = spark.sql(CORPUS["names"] + ", CAST(NULL AS INT) AS n")
    assert rows_as_json(df) == ['{"a":1,"a":2,"b.c":"x","b":"y","x y":3}']


def test_capped_rows_are_the_ordered_prefix(spark):
    df = spark.sql(ORDERED)
    assert rows_as_json(df, limit=10) == df.limit(10).toJSON().collect()


def test_max_rows_truncation_marker(spark):
    df = spark.sql(ORDERED)
    content = capped_mcp_content(df, max_rows=5)
    assert [c["text"] for c in content[:5]] == df.limit(5).toJSON().collect()
    assert json.loads(content[5]["text"]) == {"truncated": True, "max_rows": 5}
    assert len(content) == 6
    exact = capped_mcp_content(spark.sql(ORDERED + " LIMIT 5"), max_rows=5)
    assert len(exact) == 5


def test_capped_table_scan_returns_the_cap_and_the_marker(spark):
    content = capped_mcp_content(spark.sql("SELECT * FROM lineitem"), max_rows=50)
    assert len(content) == 51
    assert all("l_orderkey" in json.loads(c["text"]) for c in content[:50])
    assert json.loads(content[50]["text"]) == {"truncated": True, "max_rows": 50}


def test_row_cap_is_the_plan_root_without_a_shuffle(spark):
    scan = explain_str(json_rows(spark.table("orders"), limit=11), "simple")
    assert "CollectLimit 11" in scan
    assert "Exchange" not in scan
    top = explain_str(json_rows(spark.sql(ORDERED), limit=11), "simple")
    assert "TakeOrderedAndProject(limit=11" in top
    assert "Exchange SinglePartition" not in top


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _assert_local(df, whole: bool = True) -> None:
    plan = _optimized(df)
    assert "LogicalRDD" not in plan, plan
    if whole:
        assert plan.startswith("LocalRelation"), plan
    else:
        assert "LocalRelation" in plan, plan


METADATA_TOOLS = {
    "list_tables": {},
    "list_tables_filtered": {"table_names": "nation,region"},
    "list_table_names": {},
    "list_collections": {},
    "get_rules": {},
    "list_jdbc_sources": {},
    "get_models": {},
    "get_explores": {},
    "get_dimensions": {"explore": "orders"},
    "get_measures": {"explore": "lineitem"},
    "get_looks": {},
}


@pytest.mark.parametrize("tool", sorted(METADATA_TOOLS))
def test_metadata_tool_results_are_local_relations(spark, tool):
    name = "list_tables" if tool == "list_tables_filtered" else tool
    _assert_local(registry.get_tool(name)(spark, **METADATA_TOOLS[tool]))


def test_get_documents_request_side_is_local(spark):
    df = registry.get_tool("get_documents")(
        spark, document_paths='["nation/1", "orders/1", "bogus/1"]'
    )
    _assert_local(df, whole=False)
    missing = registry.get_tool("get_documents")(
        spark, document_paths="bogus/1"
    )
    _assert_local(missing, whole=False)


def test_write_results_and_overlays_are_local(spark):
    spark.conf.set(WRITES_CONF, "session")
    try:
        added = registry.get_tool("add_documents")(
            spark, collection="nation",
            documents=json.dumps([
                {"n_nationkey": 901, "n_name": "LEMURIA", "n_regionkey": 1},
                {"n_nationkey": 902, "n_name": "MU", "n_regionkey": 2},
            ]),
        )
        _assert_local(added)
        analyzed = spark.table("nation")._jdf.queryExecution().analyzed()
        assert "LocalRelation" in analyzed.toString()
        assert "LogicalRDD" not in analyzed.toString()
        _assert_local(registry.get_tool("update_document")(
            spark, collection="nation", document_path="nation/901",
            fields=json.dumps({"n_name": "LEMURIA II"}),
        ))
        _assert_local(registry.get_tool("delete_documents")(
            spark, collection="nation", document_paths="nation/902",
        ))
        assert "LogicalRDD" not in _optimized(spark.table("nation"))
        assert [json.loads(r)["n_name"] for r in rows_as_json(
            spark.sql("SELECT n_name FROM nation WHERE n_nationkey > 900")
        )] == ["LEMURIA II"]
    finally:
        spark.conf.set(WRITES_CONF, "deny")
        load_tables(spark, SF_DIR, replace=True)


@pytest.fixture
def split_orders(spark, tmp_path):
    """``orders`` spread over four parquet files (four scan partitions)."""
    spark.table("orders").repartition(4).write.parquet(str(tmp_path / "o"))
    spark.read.parquet(str(tmp_path / "o")).createOrReplaceTempView("orders_split")
    yield
    spark.catalog.dropTempView("orders_split")


# case -> (tool, arguments, Spark jobs the call runs, needs opted-in writes)
SERVED_JOBS = {
    "execute_sql_point": (
        "execute_sql", {"sql": "SELECT * FROM orders WHERE o_orderkey = 1"}, 1, False,
    ),
    "execute_sql_split_miss": (
        "execute_sql", {"sql": "SELECT * FROM orders_split WHERE o_orderkey < 0"},
        1, False,
    ),
    "list_tables": ("list_tables", {}, 0, False),
    "search_entries": ("search_entries", {"query": "key", "page_size": 5}, 0, False),
    "lookup_entry": ("lookup_entry", {"entry": "orders"}, 0, False),
    "search_aspect_types": ("search_aspect_types", {}, 0, False),
    "get_documents": (
        "get_documents",
        {"document_paths": '["customer/1", "orders/1", "orders/999999999"]'},
        1, False,
    ),
    "update_document": (
        "update_document",
        {"collection": "customer", "document_path": "customer/1",
         "fields": '{"c_acctbal": 1.5}'},
        1, True,
    ),
}


@pytest.mark.parametrize("case", sorted(SERVED_JOBS))
def test_served_call_spark_jobs(spark, split_orders, case):
    tool, arguments, jobs, writes = SERVED_JOBS[case]
    if writes:
        spark.conf.set(WRITES_CONF, "session")
    try:
        with measured(spark, case) as run:
            registry.call_tool(spark, tool, arguments)
    finally:
        if writes:
            spark.conf.set(WRITES_CONF, "deny")
            load_tables(spark, SF_DIR, replace=True)
    assert run.jobs == jobs


def test_explore_tables_match_their_from_clause():
    for spec in looker.EXPLORES.values():
        named = {t for t in TABLES if re.search(rf"\b{t}\b", spec.sql_from)}
        assert named == set(spec.tables), spec.name


def test_looker_query_registers_only_its_explore_tables(spark, monkeypatch):
    calls: list[str] = []
    real = looker.load_table

    def counting(spark_, sf_dir, name, **kwargs):
        calls.append(name)
        return real(spark_, sf_dir, name, **kwargs)

    monkeypatch.setattr(looker, "load_table", counting)
    df = looker.run_query(spark, SF_DIR, "orders", ["nation", "order_count"])
    assert sorted(calls) == ["customer", "nation", "orders"]
    assert df.count() > 0
