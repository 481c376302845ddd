"""Seeded op streams for the benchmark workloads.

The key domains (key ranges, date range, categorical values, table
schemas) are read from the parquet files with DuckDB and pyarrow, never
through the engine under test. Everything the program receives comes from
``random.Random(seed)`` over those domains, so one seed gives one
byte-identical stream (see ``stream_bytes``).

An op is a plain dict: ``label`` names the template, ``tool`` and ``args``
are the JSON-RPC ``tools/call`` parameters (batch ops carry ``query``
instead), and ``expect`` holds what the checker needs to judge the result.
"""

from __future__ import annotations

import json
import os
import random
from datetime import date

import duckdb
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

# Statements the gate must deny, with the class it must name.
DENIED = (
    ("Drop", "DROP TABLE {t}"),
    ("Delete", "DELETE FROM orders WHERE o_orderkey = {k}"),
    ("Insert", "INSERT INTO customer SELECT * FROM customer WHERE c_custkey = {c}"),
    ("Update", "UPDATE orders SET o_totalprice = 0 WHERE o_orderkey = {k}"),
    ("Create", "CREATE TABLE bench_copy AS SELECT * FROM {t}"),
    ("TruncateTable", "TRUNCATE TABLE {t}"),
    ("Alter", "ALTER TABLE {t} ADD COLUMNS (bench_x INT)"),
    ("Unknown", "SELECT {k} AS k; DROP TABLE {t}"),
)

SEARCH_TERMS = ("key", "price", "date", "name", "type", "nation", "status")

# Looker explore "orders": dimension name -> its SQL expression.
LOOKER_DIMS = {
    "nation": "n.n_name",
    "market_segment": "c.c_mktsegment",
    "order_priority": "o.o_orderpriority",
    "order_status": "o.o_orderstatus",
}


def _r2(expr: str) -> str:
    """Two-decimal rounding that gives the same double in Spark and DuckDB:
    ROUND differs between the engines on x.xx5 values, and the 0.501
    offset keeps a sum's last-bit noise off the rounding boundary (the
    spelling the Looker measures use)."""
    return f"floor(({expr}) * 100 + 0.501e0) / 100e0"


def domains(sf_dir: str) -> dict:
    con = duckdb.connect()
    for t in ("customer", "orders", "lineitem", "part"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(sf_dir, t + '.parquet')}')"
        )

    def one(sql):
        return con.sql(sql).fetchone()

    def values(sql):
        return sorted(r[0] for r in con.sql(sql).fetchall())

    omin, omax, dmin, dmax = one(
        "SELECT min(o_orderkey), max(o_orderkey), min(o_orderdate)::DATE, "
        "max(o_orderdate)::DATE FROM orders")
    cmin, cmax, n_cust = one(
        "SELECT min(c_custkey), max(c_custkey), count(*) FROM customer")
    smin, smax = one("SELECT min(l_shipdate)::DATE, max(l_shipdate)::DATE "
                     "FROM lineitem")
    n_orders = one("SELECT count(*) FROM orders")[0]
    out = {
        "orderkey": [omin, omax], "custkey": [cmin, cmax],
        "orderdate": [dmin.isoformat(), dmax.isoformat()],
        "shipdate": [smin.isoformat(), smax.isoformat()],
        "counts": {"customer": n_cust, "orders": n_orders},
        "segments": values("SELECT DISTINCT c_mktsegment FROM customer"),
        "statuses": values("SELECT DISTINCT o_orderstatus FROM orders"),
        "priorities": values("SELECT DISTINCT o_orderpriority FROM orders"),
        "brands": values("SELECT DISTINCT p_brand FROM part"),
        "nationkeys": values(
            "SELECT DISTINCT c_nationkey FROM customer"),
        "columns": {
            t: pq.read_schema(os.path.join(sf_dir, t + ".parquet")).names
            for t in TABLES
        },
    }
    con.close()
    return out


def _month(r: random.Random, lo: str, hi: str, span_months: int) -> tuple[str, str]:
    a, b = date.fromisoformat(lo), date.fromisoformat(hi)
    months = (b.year - a.year) * 12 + b.month - a.month - span_months
    m0 = a.year * 12 + a.month - 1 + r.randrange(max(months, 1))
    m1 = m0 + span_months
    return (f"{m0 // 12:04d}-{m0 % 12 + 1:02d}-01",
            f"{m1 // 12:04d}-{m1 % 12 + 1:02d}-01")


def _call(label: str, tool: str, args: dict, **expect) -> dict:
    return {"label": label, "tool": tool, "args": args, "expect": expect}


def _sql(label: str, sql: str, max_rows: int | None = None) -> dict:
    args = {"sql": sql}
    if max_rows is not None:
        args["max_rows"] = max_rows
    return _call(label, "execute_sql", args, kind="sql", sql=sql,
                 max_rows=max_rows)


# --- read templates ----------------------------------------------------------


def point_order(r, d):
    k = r.randint(*d["orderkey"])
    return _sql("sql.point_order", (
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
        "CAST(CAST(o_orderdate AS DATE) AS STRING) AS o_orderdate "
        f"FROM orders WHERE o_orderkey = {k}"))


def point_customer(r, d):
    k = r.randint(*d["custkey"])
    return _sql("sql.point_customer", (
        "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment "
        f"FROM customer WHERE c_custkey = {k}"))


def range_agg(r, d):
    d0, d1 = _month(r, *d["shipdate"], 3)
    return _sql("sql.range_agg", (
        "SELECT l_returnflag, l_linestatus, count(*) AS n_lines, "
        f"{_r2('sum(l_quantity)')} AS qty, "
        f"{_r2('sum(l_extendedprice * (1 - l_discount))')} AS revenue "
        f"FROM lineitem WHERE l_shipdate >= DATE '{d0}' "
        f"AND l_shipdate < DATE '{d1}' "
        "GROUP BY l_returnflag, l_linestatus"))


def join4_topk(r, d):
    d0, d1 = _month(r, *d["orderdate"], 12)
    seg = r.choice(d["segments"])
    k = r.randint(3, 10)
    return _sql("sql.join4_topk", (
        "SELECT n.n_name AS nation, count(*) AS n_lines, "
        f"{_r2('sum(l.l_extendedprice * (1 - l.l_discount))')} AS revenue "
        "FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey "
        "JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
        "JOIN nation n ON c.c_nationkey = n.n_nationkey "
        f"WHERE o.o_orderdate >= DATE '{d0}' AND o.o_orderdate < DATE '{d1}' "
        f"AND c.c_mktsegment = '{seg}' "
        f"GROUP BY n.n_name ORDER BY revenue DESC, nation LIMIT {k}"))


def join3_topk(r, d):
    d0, d1 = _month(r, *d["orderdate"], 6)
    brand = r.choice(d["brands"])
    return _sql("sql.join3_topk", (
        "SELECT o.o_orderkey, o.o_orderpriority, count(*) AS n_lines, "
        f"{_r2('sum(l.l_extendedprice)')} AS gross "
        "FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
        "JOIN part p ON l.l_partkey = p.p_partkey "
        f"WHERE p.p_brand = '{brand}' AND o.o_orderdate >= DATE '{d0}' "
        f"AND o.o_orderdate < DATE '{d1}' "
        "GROUP BY o.o_orderkey, o.o_orderpriority "
        "ORDER BY gross DESC, o.o_orderkey LIMIT 10"))


def truncated(r, d):
    lo, hi = d["custkey"]
    c = r.randint(lo, hi - 600)
    return _sql("sql.truncated", (
        "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
        f"WHERE o_custkey BETWEEN {c} AND {c + 500} ORDER BY o_orderkey"),
        max_rows=50)


def denied(r, d):
    cls, shape = r.choice(DENIED)
    sql = shape.format(t=r.choice(TABLES), k=r.randint(*d["orderkey"]),
                       c=r.randint(*d["custkey"]))
    return _call("sql.denied", "execute_sql", {"sql": sql}, kind="denied",
                 statement_class=cls)


def list_tables(r, d):
    names = sorted(r.sample(TABLES, r.randint(1, 3))) if r.random() < 0.5 else []
    return _call("catalog.list_tables", "list_tables",
                 {"table_names": ",".join(names)}, kind="list_tables",
                 tables=names or list(TABLES))


def search_entries(r, d):
    term, size = r.choice(SEARCH_TERMS), r.randint(5, 20)
    return _call("catalog.search_entries", "search_entries",
                 {"query": term, "page_size": size}, kind="search",
                 term=term, page_size=size)


def lookup_entry(r, d):
    t = r.choice(TABLES)
    return _call("catalog.lookup_entry", "lookup_entry", {"entry": t},
                 kind="lookup", table=t)


def explain(r, d):
    inner = r.choice((range_agg, join4_topk))(r, d)["args"]["sql"]
    return _call("explain_query", "explain_query", {"sql": inner},
                 kind="explain")


def get_documents(r, d):
    lo, hi = d["orderkey"]
    paths = [f"customer/{r.randint(*d['custkey'])}",
             f"orders/{r.randint(lo, hi)}",
             f"orders/{hi + 1 + r.randrange(1000)}"]
    return _call("docstore.get_documents", "get_documents",
                 {"document_paths": json.dumps(paths)}, kind="get_documents",
                 paths=paths)


def query_collection(r, d):
    c = r.randint(*d["custkey"])
    n = r.randint(3, 8)
    return _call("docstore.query_collection", "query_collection", {
        "collection": "orders",
        "filters": json.dumps([{"field": "o_custkey", "op": "==", "value": c}]),
        "order_by": "o_orderkey", "direction": "DESCENDING", "limit": str(n),
        "fields": "o_custkey,o_totalprice,o_orderstatus",
    }, kind="query_collection", sql=(
        "SELECT 'orders/' || CAST(o_orderkey AS VARCHAR) AS doc_path, "
        "o_custkey, o_totalprice, o_orderstatus FROM orders "
        f"WHERE o_custkey = {c} ORDER BY o_orderkey DESC LIMIT {n}"))


def aggregate_collection(r, d):
    if r.random() < 0.5:
        field, value = "o_orderstatus", r.choice(d["statuses"])
    else:
        field, value = "o_orderpriority", r.choice(d["priorities"])
    return _call("docstore.aggregate_collection", "aggregate_collection", {
        "collection": "orders",
        "aggregations": json.dumps([
            {"op": "count", "alias": "n"},
            {"op": "sum", "field": "o_totalprice", "alias": "total"}]),
        "filters": json.dumps([{"field": field, "op": "==", "value": value}]),
    }, kind="aggregate", sql=(
        "SELECT count(*) AS n, sum(o_totalprice) AS total FROM orders "
        f"WHERE {field} = '{value}'"))


def looker_query(r, d):
    dim = r.choice(sorted(LOOKER_DIMS))
    filter_domains = {"market_segment": "segments",
                      "order_priority": "priorities",
                      "order_status": "statuses"}
    fdim = r.choice([k for k in sorted(filter_domains) if k != dim])
    fval = r.choice(d[filter_domains[fdim]])
    sql = (
        f"SELECT {LOOKER_DIMS[dim]} AS {dim}, count(*) AS order_count, "
        f"{_r2('sum(o.o_totalprice)')} AS total_revenue "
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
        "JOIN nation n ON c.c_nationkey = n.n_nationkey "
        f"WHERE {LOOKER_DIMS[fdim]} = '{fval}' GROUP BY {LOOKER_DIMS[dim]}")
    return _call("looker.query", "query", {
        "explore": "orders", "fields": f"{dim},order_count,total_revenue",
        "filters": json.dumps({fdim: fval}),
    }, kind="rows", sql=sql)


# The reads of one pass: template -> calls per pass (19 calls, 3 denied).
READ_MIX = (
    (point_order, 2), (point_customer, 1), (range_agg, 2), (join4_topk, 1),
    (join3_topk, 1), (truncated, 1), (denied, 3), (list_tables, 1),
    (search_entries, 1), (lookup_entry, 1), (explain, 1), (get_documents, 1),
    (query_collection, 1), (aggregate_collection, 1), (looker_query, 1),
)

def _mix(r: random.Random, d: dict, mix) -> list[dict]:
    ops = [tpl(r, d) for tpl, n in mix for _ in range(n)]
    r.shuffle(ops)
    return ops


def _writes(r: random.Random, d: dict) -> tuple[list[dict], dict]:
    """Five session writes on customer and orders, with the reads that must
    see them and the collection counts they imply."""
    clo, chi = d["custkey"]
    olo, ohi = d["orderkey"]
    new_c = [chi + 1 + i + r.randrange(1000) * 2 for i in range(2)]
    new_c = sorted(set(new_c))
    new_o = ohi + 1 + r.randrange(1000)
    upd_c = r.randint(clo, chi)
    del_o = sorted(r.sample(range(olo, ohi + 1), 2))
    seg = r.choice(d["segments"])
    docs_c = [{
        "c_custkey": k, "c_name": f"Customer#bench{k}",
        "c_nationkey": r.choice(d["nationkeys"]),
        "c_acctbal": round(r.uniform(-999, 9999), 2), "c_mktsegment": seg,
    } for k in new_c]
    doc_o = {
        "o_orderkey": new_o, "o_custkey": new_c[0], "o_orderstatus": "O",
        "o_totalprice": round(r.uniform(1000, 400000), 2),
        "o_orderpriority": r.choice(d["priorities"]),
    }
    bal_old = round(r.uniform(-999, 9999), 2)
    bal_new = round(r.uniform(-999, 9999), 2)
    writes = [
        _call("docstore.add_documents", "add_documents", {
            "collection": "customer", "documents": json.dumps(docs_c)},
            kind="write", mirror=[("insert", "customer", doc) for doc in docs_c]),
        _call("docstore.add_documents", "add_documents", {
            "collection": "orders", "documents": json.dumps([doc_o])},
            kind="write", mirror=[("insert", "orders", doc_o)]),
        _call("docstore.update_document", "update_document", {
            "collection": "customer", "document_path": f"customer/{upd_c}",
            "fields": json.dumps({"c_acctbal": bal_old})},
            kind="write", mirror=[("update", "customer", "c_custkey", upd_c,
                                   {"c_acctbal": bal_old})]),
        _call("docstore.update_document", "update_document", {
            "collection": "customer", "document_path": f"customer/{new_c[-1]}",
            "fields": json.dumps({"c_acctbal": bal_new})},
            kind="write", mirror=[("update", "customer", "c_custkey", new_c[-1],
                                   {"c_acctbal": bal_new})]),
        _call("docstore.delete_documents", "delete_documents", {
            "collection": "orders",
            "document_paths": json.dumps([f"orders/{k}" for k in del_o])},
            kind="write", mirror=[("delete", "orders", "o_orderkey", k)
                                  for k in del_o]),
    ]
    touched = ([f"customer/{k}" for k in new_c] + [f"customer/{upd_c}",
               f"orders/{new_o}"] + [f"orders/{k}" for k in del_o])
    counts = {
        "customer": d["counts"]["customer"] + len(new_c),
        "orders": d["counts"]["orders"] + 1 - len(del_o),
    }
    return writes, {"paths": touched, "counts": counts}


def _count_call(coll: str, n: int) -> dict:
    return _call(f"docstore.count_{coll}", "aggregate_collection", {
        "collection": coll, "aggregations": json.dumps([{"op": "count",
                                                        "alias": "n"}])},
        kind="count", count=n)


def tool_ops(seed: int, pass_key: str, d: dict) -> list[dict]:
    """One pass of ``tool_calls_rw``: the read mix with five session writes
    at seeded positions in its first two thirds (in generation order: the
    second update targets a customer the first add created), then a read
    of every written document and the two collection counts."""
    r = random.Random(f"tool_calls_rw:{seed}:{pass_key}")
    reads = _mix(r, d, READ_MIX)
    writes, after = _writes(r, d)
    slots = sorted(r.sample(range(2 * len(reads) // 3), len(writes)))
    ops: list[dict] = []
    for i, op in enumerate(reads):
        while slots and slots[0] == i:
            slots.pop(0)
            ops.append(writes.pop(0))
        ops.append(op)
    ops.append(_call("docstore.read_your_writes", "get_documents",
                     {"document_paths": json.dumps(after["paths"])},
                     kind="get_documents", paths=after["paths"]))
    ops += [_count_call(c, n) for c, n in sorted(after["counts"].items())]
    return ops


def batch_ops(queries: list[str], seed: int, pass_key: str) -> list[dict]:
    """One pass of ``batch``: every pinned query once, in seeded order."""
    r = random.Random(f"batch:{seed}:{pass_key}")
    order = list(queries)
    r.shuffle(order)
    return [{"label": f"query.{q}", "query": q, "expect": {"kind": "oracle"}}
            for q in order]


def stream_bytes(ops: list[dict]) -> bytes:
    """The request stream as the program would receive it, serialized."""
    return json.dumps(
        [{k: op[k] for k in ("tool", "args", "query") if k in op}
         for op in ops], sort_keys=True).encode()
