"""Firestore-style document toolset: MCP server round-trips (the reference's
test shape, tests/postgres/test_mcp.py) + semantic checks for path lookup,
structured filters, and the read-only write-tool policy."""

from __future__ import annotations

import json
import re

import pytest

from database_toolbox_spark.server import handle_request
from database_toolbox_spark.session import _view_registry, load_tables, table_path
from tests.conftest import SF_DIR


@pytest.fixture(scope="module", autouse=True)
def _views(spark):
    load_tables(spark, SF_DIR)


def _call_tool(spark, name, arguments=None):
    return handle_request(
        spark,
        {
            "jsonrpc": "2.0",
            "id": 1,
            "method": "tools/call",
            "params": {"name": name, "arguments": arguments or {}},
        },
    )["result"]


def test_tools_list_has_document_toolset(spark):
    resp = handle_request(
        spark, {"jsonrpc": "2.0", "id": 1, "method": "tools/list", "params": {}}
    )
    names = {t["name"] for t in resp["result"]["tools"]}
    assert {
        "list_collections", "get_documents", "query_collection",
        "get_rules", "add_documents", "update_document", "delete_documents",
    } <= names


def test_list_collections_roundtrip(spark):
    result = _call_tool(spark, "list_collections")
    assert result["isError"] is False
    rows = [json.loads(c["text"]) for c in result["content"]]
    ids = {r["collection_id"] for r in rows}
    assert {"orders", "documents", "lineitem", "embeddings"} <= ids
    li = next(r for r in rows if r["collection_id"] == "lineitem")
    assert li["id_field"] == "l_orderkey-l_linenumber"
    # non-empty parent path: all collections are root-level
    empty = _call_tool(spark, "list_collections", {"parent_path": "orders/1"})
    assert all("collection_id" not in c.get("text", "{}")
               or not json.loads(c["text"])
               for c in empty["content"]) or empty["content"] == []


def test_get_documents_roundtrip_and_payload(spark):
    first_key = spark.table("orders").selectExpr(
        "min(o_orderkey) AS k"
    ).collect()[0].k
    result = _call_tool(
        spark,
        "get_documents",
        {"document_paths": json.dumps(
            [f"orders/{first_key}", "orders/999999999", "nosuch/1"]
        )},
    )
    assert result["isError"] is False
    rows = [json.loads(c["text"]) for c in result["content"]]
    # request order preserved
    assert [r["doc_path"] for r in rows] == [
        f"orders/{first_key}", "orders/999999999", "nosuch/1"
    ]
    assert [r["found"] for r in rows] == [True, False, False]
    doc = json.loads(rows[0]["data"])
    assert doc["o_orderkey"] == first_key and "o_totalprice" in doc
    assert rows[1].get("data") is None  # NULL data (serializer may omit)


def test_get_documents_collects_one_filtered_scan_per_collection(spark):
    """get_documents answers with a LocalRelation, so the plan it collects
    while building that answer is pinned here rather than by its operator's
    plan fingerprint: one parquet scan per requested collection with the
    key predicate pushed into it, no exchange and no join."""
    from database_toolbox_spark.document_store import _path_matches
    from database_toolbox_spark.operators.docstore_ops import _GET_PATHS
    from database_toolbox_spark.plans import explain_str

    plan = explain_str(_path_matches(spark, _GET_PATHS), "formatted")
    assert "Exchange" not in plan and "Join" not in plan
    scans = len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M))
    assert scans == 4  # orders, documents, lineitem, part
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert len(pushed) == scans
    for key in ("o_orderkey", "doc_id", "l_orderkey", "p_partkey"):
        assert sum(key in ln for ln in pushed) == 1, (key, pushed)

def test_query_collection_filters_order_limit(spark):
    result = _call_tool(
        spark,
        "query_collection",
        {
            "collection": "orders",
            "filters": json.dumps(
                [
                    {"field": "o_orderstatus", "op": "in",
                     "value": ["F", "P"]},
                    {"field": "o_totalprice", "op": ">=", "value": 1000},
                ]
            ),
            "order_by": "o_totalprice",
            "direction": "DESCENDING",
            "limit": "5",
        },
    )
    assert result["isError"] is False
    rows = [json.loads(c["text"]) for c in result["content"]]
    assert 0 < len(rows) <= 5
    prices = [r["o_totalprice"] for r in rows]
    assert prices == sorted(prices, reverse=True)
    assert all(r["o_orderstatus"] in ("F", "P") for r in rows)
    assert all(r["doc_path"].startswith("orders/") for r in rows)


def test_query_collection_fields_prune_scan(spark):
    """The `fields` select mask is real column pruning: the parquet
    ReadSchema must shrink to the projected fields plus the key column."""
    from database_toolbox_spark.document_store import query_collection
    from database_toolbox_spark.plans import explain_str, scan_read_schema

    df = query_collection(spark, "orders", fields="o_totalprice")
    rs = scan_read_schema(df)
    assert "o_totalprice" in rs and "o_orderkey" in rs
    assert "o_orderdate" not in rs and "o_custkey" not in rs
    assert sorted(df.columns) == ["doc_path", "o_totalprice"]
    with pytest.raises(ValueError, match="unknown field"):
        query_collection(spark, "orders", fields="o_totalprice, nope")
    # filters on non-projected fields still push down to the scan
    plan = explain_str(
        query_collection(
            spark, "orders",
            json.dumps([{"field": "o_orderstatus", "op": "==",
                         "value": "F"}]),
            fields="o_totalprice",
        ),
        "formatted",
    )
    assert "PushedFilters" in plan and "o_orderstatus" in plan


def test_query_collection_rejects_bad_input(spark):
    from database_toolbox_spark.document_store import query_collection

    with pytest.raises(ValueError, match="unknown collection"):
        query_collection(spark, "users; DROP TABLE orders")
    with pytest.raises(ValueError, match="unknown field"):
        query_collection(
            spark, "orders",
            json.dumps([{"field": "1=1 OR o_custkey", "op": "==",
                         "value": 1}]),
        )
    with pytest.raises(ValueError, match="unknown filter op"):
        query_collection(
            spark, "orders",
            json.dumps([{"field": "o_custkey", "op": "LIKE", "value": 1}]),
        )
    with pytest.raises(ValueError, match="direction"):
        query_collection(spark, "orders", order_by="o_custkey",
                         direction="sideways")


def test_write_tools_denied_as_error_result(spark):
    for name, args in (
        ("add_documents", {"collection": "orders"}),
        ("update_document", {"document_path": "orders/1"}),
        ("delete_documents", {"document_paths": "orders/1"}),
    ):
        result = _call_tool(spark, name, args)
        assert result["isError"] is True
        assert "not permitted" in result["content"][0]["text"]


def test_get_rules_reflects_gate(spark):
    from database_toolbox_spark import gate

    result = _call_tool(spark, "get_rules")
    assert result["isError"] is False
    rows = [json.loads(c["text"]) for c in result["content"]]
    allow = {r["statement_class"] for r in rows if r["effect"] == "allow"}
    deny = {r["statement_class"] for r in rows if r["effect"] == "deny"}
    assert allow == set(gate.ALLOWED_CLASSES)
    assert deny == set(gate.DENIED_CLASSES)


def test_composite_and_malformed_ids(spark):
    from database_toolbox_spark.document_store import get_documents

    li = spark.table("lineitem").selectExpr(
        "l_orderkey", "l_linenumber"
    ).limit(1).collect()[0]
    rows = get_documents(
        spark,
        json.dumps([f"lineitem/{li.l_orderkey}-{li.l_linenumber}",
                    "lineitem/justonepart"]),
    ).collect()
    assert rows[0].found is True
    body = json.loads(rows[0].data)
    assert body["l_orderkey"] == li.l_orderkey
    assert body["l_linenumber"] == li.l_linenumber
    assert rows[1].found is False


def test_query_collection_keyset_pagination_roundtrip(spark):
    """Round-9: cursor pagination — page 2 via start_after(last key of
    page 1) must continue exactly where page 1 stopped, and the inclusive
    start_at cursor must re-include the boundary document."""
    page1 = _call_tool(spark, "query_collection", {
        "collection": "orders", "order_by": "o_orderkey",
        "limit": "5", "fields": "o_orderkey",
    })
    assert page1["isError"] is False
    keys1 = [json.loads(c["text"])["o_orderkey"] for c in page1["content"]]
    assert keys1 == sorted(keys1) and len(keys1) == 5

    page2 = _call_tool(spark, "query_collection", {
        "collection": "orders", "order_by": "o_orderkey",
        "limit": "5", "fields": "o_orderkey",
        "start_after": json.dumps(keys1[-1]),
    })
    keys2 = [json.loads(c["text"])["o_orderkey"] for c in page2["content"]]
    both = _call_tool(spark, "query_collection", {
        "collection": "orders", "order_by": "o_orderkey",
        "limit": "10", "fields": "o_orderkey",
    })
    keys_both = [json.loads(c["text"])["o_orderkey"]
                 for c in both["content"]]
    assert keys1 + keys2 == keys_both

    incl = _call_tool(spark, "query_collection", {
        "collection": "orders", "order_by": "o_orderkey",
        "limit": "1", "fields": "o_orderkey",
        "start_at": json.dumps(keys1[-1]),
    })
    assert json.loads(incl["content"][0]["text"])["o_orderkey"] == keys1[-1]

    # descending keyset walks downward from the cursor
    desc = _call_tool(spark, "query_collection", {
        "collection": "orders", "order_by": "o_orderkey",
        "direction": "DESCENDING", "limit": "3", "fields": "o_orderkey",
        "start_after": json.dumps(keys_both[-1]),
    })
    dkeys = [json.loads(c["text"])["o_orderkey"] for c in desc["content"]]
    assert dkeys == list(reversed(keys_both[-4:-1]))

    # cursor without order_by is a caller error, surfaced as isError
    bad = _call_tool(spark, "query_collection", {
        "collection": "orders", "start_at": "5",
    })
    assert bad["isError"] is True


def test_aggregate_collection_roundtrip(spark):
    """Round-9: Firestore aggregation query — count/sum/avg over a
    filtered collection, verified against a direct Spark recount."""
    res = _call_tool(spark, "aggregate_collection", {
        "collection": "orders",
        "aggregations": json.dumps([
            {"op": "count", "alias": "n"},
            {"op": "sum", "field": "o_totalprice", "alias": "s"},
            {"op": "avg", "field": "o_totalprice"},
        ]),
        "filters": json.dumps(
            [{"field": "o_orderstatus", "op": "==", "value": "F"}]
        ),
    })
    assert res["isError"] is False
    row = json.loads(res["content"][0]["text"])
    exp = spark.sql(
        "SELECT count(*) n, sum(o_totalprice) s, avg(o_totalprice) a "
        "FROM orders WHERE o_orderstatus = 'F'"
    ).collect()[0]
    assert row["n"] == exp.n
    assert abs(row["s"] - exp.s) < 1e-6
    assert abs(row["avg_o_totalprice"] - exp.a) < 1e-9

    # validation: bad op / non-numeric field / empty list are errors
    for args in (
        {"collection": "orders", "aggregations": json.dumps([{"op": "max"}])},
        {"collection": "orders", "aggregations": json.dumps(
            [{"op": "sum", "field": "o_orderstatus"}])},
        {"collection": "orders", "aggregations": "[]"},
    ):
        assert _call_tool(spark, "aggregate_collection", args)["isError"] \
            is True


def test_in_filter_binds_typed_temporal_literals(spark):
    """Round-9 ADVICE: in/not-in must cast string values against temporal
    columns like the scalar ops do — an `in` over two order dates must
    equal the union of two == filters."""
    from database_toolbox_spark.document_store import query_collection

    d1, d2 = [
        str(r.o_orderdate)
        for r in spark.sql(
            "SELECT DISTINCT o_orderdate FROM orders "
            "ORDER BY o_orderdate LIMIT 2"
        ).collect()
    ]
    got_in = query_collection(
        spark, "orders",
        json.dumps([{"field": "o_orderdate", "op": "in",
                     "value": [d1, d2]}]),
    ).count()
    got_eq = sum(
        query_collection(
            spark, "orders",
            json.dumps([{"field": "o_orderdate", "op": "==", "value": d}]),
        ).count()
        for d in (d1, d2)
    )
    assert got_in == got_eq and got_in > 0
    # not-in is the complement over non-null dates
    total = spark.table("orders").count()
    got_notin = query_collection(
        spark, "orders",
        json.dumps([{"field": "o_orderdate", "op": "not-in",
                     "value": [d1, d2]}]),
    ).count()
    assert got_notin == total - got_in


def test_write_tools_session_overlay_roundtrip(spark):
    """Round-9: opt-in document writes execute as session-scoped
    copy-on-write view overlays — add/update/delete visible through the
    read tools, storage untouched, deny-by-default restored afterward."""
    from database_toolbox_spark.document_store import WRITES_CONF

    base_count = spark.table("nation").count()
    base_rows = {r.n_nationkey for r in spark.table("nation").collect()}
    spark.conf.set(WRITES_CONF, "session")
    try:
        added = _call_tool(spark, "add_documents", {
            "collection": "nation",
            "documents": json.dumps([
                {"n_nationkey": 900, "n_name": "ATLANTIS",
                 "n_regionkey": 0},
            ]),
        })
        assert added["isError"] is False
        assert json.loads(added["content"][0]["text"]) == {
            "doc_path": "nation/900", "action": "added"}
        got = _call_tool(spark, "get_documents",
                         {"document_paths": "nation/900"})
        row = json.loads(got["content"][0]["text"])
        assert row["found"] is True and "ATLANTIS" in row["data"]

        upd = _call_tool(spark, "update_document", {
            "collection": "nation", "document_path": "nation/900",
            "fields": json.dumps({"n_name": "ATLANTIS_RISEN"}),
        })
        assert json.loads(upd["content"][0]["text"])["n_matched"] == 1
        got = _call_tool(spark, "get_documents",
                         {"document_paths": "nation/900"})
        assert "ATLANTIS_RISEN" in \
            json.loads(got["content"][0]["text"])["data"]

        # aggregation sees the overlay too (one more document)
        agg = _call_tool(spark, "aggregate_collection", {
            "collection": "nation",
            "aggregations": json.dumps([{"op": "count", "alias": "n"}]),
        })
        assert json.loads(agg["content"][0]["text"])["n"] == base_count + 1

        dele = _call_tool(spark, "delete_documents", {
            "collection": "nation", "document_paths": "nation/900",
        })
        assert json.loads(dele["content"][0]["text"])["action"] == "deleted"
        got = _call_tool(spark, "get_documents",
                         {"document_paths": "nation/900"})
        assert json.loads(got["content"][0]["text"])["found"] is False

        # validation: unknown field / missing key / key update are errors
        for name, args in (
            ("add_documents", {"collection": "nation",
                               "documents": json.dumps([{"bogus": 1}])}),
            ("add_documents", {"collection": "nation",
                               "documents": json.dumps([{"n_name": "X"}])}),
            ("update_document", {"collection": "nation",
                                 "document_path": "nation/0",
                                 "fields": json.dumps({"n_nationkey": 5})}),
        ):
            assert _call_tool(spark, name, args)["isError"] is True
    finally:
        spark.conf.set(WRITES_CONF, "deny")
        # the overlay is a substituted view to load_tables(), which keeps
        # it; only a forced re-registration drops it
        load_tables(spark, SF_DIR, replace=True)

    # deny-by-default restored; parquet (via reloaded views) untouched
    denied = _call_tool(spark, "add_documents", {
        "collection": "nation", "documents": json.dumps([{}])})
    assert denied["isError"] is True
    assert {r.n_nationkey for r in spark.table("nation").collect()} \
        == base_rows
    registered, source = _view_registry(spark)["nation"]
    assert source == table_path(SF_DIR, "nation")
    assert spark.table("nation").sameSemantics(registered)


def test_docstore_persist_roundtrip(spark, tmp_path, monkeypatch):
    """Round-10: with $SPARK_GRAFT_DOCSTORE_PERSIST set to a scratch dir,
    an opted-in write survives a fresh load_tables() (load_table prefers
    the persisted copy); unsetting the variable restores pristine fixture
    reads; deny-by-default is unaffected by the env var alone; the
    fixture tree is refused as a persist target."""
    from database_toolbox_spark.document_store import (
        WRITES_CONF,
        add_documents,
    )
    from database_toolbox_spark.session import DOCSTORE_PERSIST_ENV

    base_rows = {r.n_nationkey for r in spark.table("nation").collect()}
    monkeypatch.setenv(DOCSTORE_PERSIST_ENV, str(tmp_path / "scratch"))

    # env var alone does NOT open the gate
    denied = _call_tool(spark, "add_documents", {
        "collection": "nation", "documents": json.dumps([{}])})
    assert denied["isError"] is True

    spark.conf.set(WRITES_CONF, "session")
    try:
        add_documents(spark, "nation", json.dumps(
            [{"n_nationkey": 901, "n_name": "LEMURIA", "n_regionkey": 1}]
        ))
        assert (tmp_path / "scratch" / "nation.parquet").exists()

        # fresh re-registration from parquet: the persisted copy wins
        load_tables(spark, SF_DIR, replace=True)
        got = {r.n_nationkey for r in spark.table("nation").collect()}
        assert got == base_rows | {901}

        # a second write against the persisted base round-trips too
        add_documents(spark, "nation", json.dumps(
            [{"n_nationkey": 902, "n_name": "MU", "n_regionkey": 2}]
        ))
        load_tables(spark, SF_DIR, replace=True)
        got = {r.n_nationkey for r in spark.table("nation").collect()}
        assert got == base_rows | {901, 902}

        # the fixture tree is refused as a persist target
        monkeypatch.setenv(DOCSTORE_PERSIST_ENV, "/root/testdata/sf0.001")
        with pytest.raises(ValueError, match="scratch"):
            add_documents(spark, "nation", json.dumps(
                [{"n_nationkey": 903, "n_name": "YS", "n_regionkey": 0}]
            ))
    finally:
        spark.conf.set(WRITES_CONF, "deny")
        monkeypatch.delenv(DOCSTORE_PERSIST_ENV, raising=False)
        load_tables(spark, SF_DIR, replace=True)

    # unsetting the env var restores pristine fixture reads
    assert {r.n_nationkey for r in spark.table("nation").collect()} \
        == base_rows
