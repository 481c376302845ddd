"""Looker-style semantic-layer toolset — the last reference surface with no
analog (`/root/reference/README.md:844-880` ships a `--prebuilt looker`
profile; no in-repo test exercises it, so per the canonical upstream tool
shape we port the query-tool surface: models → explores → dimensions/
measures, an aggregate `query` compiler, and saved looks via `run_look`).

Design: one "model" (the driver star schema), explores as declarative specs
(base table + join chain + named dimension/measure SQL), and a compiler that
renders a grouped aggregate `spark.sql` statement. Field names are validated
against the explore spec and filter VALUES bind as query parameters
(`spark.sql(..., args=...)`) — the same injection-closed posture as the
reference's bound tool parameters (tests/sqlite/sqlite.yaml:19-22).

Scale: every compiled query is a plain Catalyst aggregate over the explore's
join graph — dimension joins broadcast (session.BROADCAST_DIMS), measures
are map-combinable aggregates, so compiled looks inherit the same 100 TB
plan shapes as the hand-written operators.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from database_toolbox_spark.operators._oracle import R
from database_toolbox_spark.session import load_table, local_frame


@dataclass(frozen=True)
class Explore:
    name: str
    description: str
    # FROM clause body (tables + join chain); tables come from session.TABLES
    sql_from: str
    # the session.TABLES the FROM clause reads — all run_query registers
    tables: tuple[str, ...]
    dimensions: dict[str, str] = field(default_factory=dict)  # name -> SQL
    measures: dict[str, str] = field(default_factory=dict)  # name -> agg SQL


MODEL = "database_toolbox_spark"

EXPLORES: dict[str, Explore] = {
    "orders": Explore(
        name="orders",
        description="Orders with customer/nation attributes",
        sql_from=(
            "orders o JOIN customer c ON o.o_custkey = c.c_custkey "
            "JOIN nation n ON c.c_nationkey = n.n_nationkey"
        ),
        tables=("orders", "customer", "nation"),
        dimensions={
            "order_status": "o.o_orderstatus",
            "order_priority": "o.o_orderpriority",
            "market_segment": "c.c_mktsegment",
            "nation": "n.n_name",
            "order_year": "CAST(year(o.o_orderdate) AS INT)",
        },
        measures={
            "order_count": "count(*)",
            "total_revenue": R("sum(o.o_totalprice)"),
            "avg_revenue": R("avg(o.o_totalprice)", 4),
            "customer_count": "count(DISTINCT o.o_custkey)",
        },
    ),
    "lineitem": Explore(
        name="lineitem",
        description="Line items with part attributes",
        sql_from="lineitem l JOIN part p ON l.l_partkey = p.p_partkey",
        tables=("lineitem", "part"),
        dimensions={
            "return_flag": "l.l_returnflag",
            "line_status": "l.l_linestatus",
            "part_type": "p.p_type",
            "ship_year": "CAST(year(l.l_shipdate) AS INT)",
        },
        measures={
            "line_count": "count(*)",
            "sum_quantity": R("sum(l.l_quantity)"),
            "revenue": R("sum(l.l_extendedprice * (1 - l.l_discount))"),
        },
    ),
    "events": Explore(
        name="events",
        description="Event stream",
        sql_from="events e",
        tables=("events",),
        dimensions={
            "event_type": "e.event_type",
            "event_day": "CAST(e.ts AS DATE)",
        },
        measures={
            "event_count": "count(*)",
            "user_count": "count(DISTINCT e.user_id)",
            "total_value": R("sum(e.value)"),
        },
    ),
}


def compile_query_sql(
    explore: str,
    fields: list[str],
    filters: dict[str, str] | None = None,
    sorts: list[str] | None = None,
    limit: int | None = None,
) -> tuple[str, dict[str, str]]:
    """Render the aggregate SQL + bind args for an explore query.

    Returns (sql, args): field names resolve through the explore spec (an
    unknown name raises — tool arguments can never inject SQL); filter
    values bind as named parameters. Dialect-portable output: identical SQL
    runs on DuckDB by inlining args (oracle path in _oracle_sql)."""
    spec = EXPLORES.get(explore)
    if spec is None:
        raise KeyError(f"unknown explore {explore!r}; known: {sorted(EXPLORES)}")
    if not fields:
        raise ValueError("fields must be non-empty")
    sel, dims = [], []
    for f in fields:
        if f in spec.dimensions:
            sel.append(f"{spec.dimensions[f]} AS {f}")
            dims.append(spec.dimensions[f])
        elif f in spec.measures:
            sel.append(f"{spec.measures[f]} AS {f}")
        else:
            raise KeyError(f"unknown field {f!r} in explore {explore!r}")
    where, args = [], {}
    for i, (f, v) in enumerate(sorted((filters or {}).items())):
        if f not in spec.dimensions:
            raise KeyError(f"filter on unknown dimension {f!r}")
        p = f"p{i}"
        where.append(f"{spec.dimensions[f]} = :{p}")
        args[p] = v
    norm_sorts = []
    for s in sorts or []:
        # Looker sort specs are 'field' with an optional direction suffix in
        # any case ('nation desc', 'nation DESC', 'nation asc')
        parts = s.strip().split()
        direction = ""
        if len(parts) == 2 and parts[1].lower() in ("asc", "desc"):
            direction = " DESC" if parts[1].lower() == "desc" else ""
            parts = parts[:1]
        if len(parts) != 1 or parts[0] not in fields:
            raise KeyError(f"sort field {s!r} not in selected fields")
        norm_sorts.append(parts[0] + direction)
    sql = f"SELECT {', '.join(sel)} FROM {spec.sql_from}"
    if where:
        sql += f" WHERE {' AND '.join(where)}"
    if dims:
        sql += f" GROUP BY {', '.join(dims)}"
    order = norm_sorts or [f for f in fields if f in spec.dimensions]
    if order:
        sql += f" ORDER BY {', '.join(order)}"
    if limit is not None:
        sql += f" LIMIT {int(limit)}"
    return sql, args


def run_query(
    spark: SparkSession,
    sf_dir: str,
    explore: str,
    fields: list[str],
    filters: dict[str, str] | None = None,
    sorts: list[str] | None = None,
    limit: int | None = None,
) -> DataFrame:
    """The Looker `query` tool: compile + execute against the star schema.
    Registers only the explore's own tables, not the whole star schema."""
    sql, args = compile_query_sql(explore, fields, filters, sorts, limit)
    for table in EXPLORES[explore].tables:
        load_table(spark, sf_dir, table)
    return spark.sql(sql, args=args) if args else spark.sql(sql)


def _oracle_sql(
    explore: str,
    fields: list[str],
    filters: dict[str, str] | None = None,
    sorts: list[str] | None = None,
    limit: int | None = None,
) -> str:
    """DuckDB twin of a compiled look: same SQL with values inlined
    (registered looks only — values come from the in-repo LOOKS table, not
    from callers)."""
    sql, args = compile_query_sql(explore, fields, filters, sorts, limit)
    for p, v in args.items():
        sql = sql.replace(f":{p}", "'" + str(v).replace("'", "''") + "'")
    return sql


@dataclass(frozen=True)
class Look:
    look_id: int
    title: str
    explore: str
    fields: tuple[str, ...]
    filters: tuple[tuple[str, str], ...] = ()
    sorts: tuple[str, ...] = ()
    limit: int | None = None


# Saved looks — the `run_look`/`get_looks` surface. Deterministic specs so
# each look doubles as an oracle-checked registry query.
LOOKS: dict[int, Look] = {
    1: Look(1, "Revenue by nation", "orders",
            ("nation", "order_count", "total_revenue")),
    2: Look(2, "Building-segment orders by year", "orders",
            ("order_year", "order_count", "customer_count"),
            filters=(("market_segment", "BUILDING"),)),
    3: Look(3, "Lineitem revenue by flag/status", "lineitem",
            ("return_flag", "line_status", "line_count", "sum_quantity",
             "revenue")),
    4: Look(4, "Daily event value", "events",
            ("event_day", "event_count", "user_count", "total_value")),
}


def get_models(spark: SparkSession) -> DataFrame:
    """Looker get_models: the single Spark model and its explore count."""
    return local_frame(
        spark, [(MODEL, len(EXPLORES))], "model string, explore_count int"
    )


def get_explores(spark: SparkSession, model: str = MODEL) -> DataFrame:
    if model != MODEL:
        raise KeyError(f"unknown model {model!r}")
    rows = [(MODEL, e.name, e.description) for e in EXPLORES.values()]
    return local_frame(
        spark, rows, "model string, explore string, description string"
    )


def _fields_df(spark: SparkSession, explore: str, kind: str) -> DataFrame:
    spec = EXPLORES.get(explore)
    if spec is None:
        raise KeyError(f"unknown explore {explore!r}")
    src = spec.dimensions if kind == "dimension" else spec.measures
    rows = [(explore, name, kind, sql) for name, sql in sorted(src.items())]
    return local_frame(
        spark, rows, "explore string, field string, kind string, sql string"
    )


def get_dimensions(spark: SparkSession, explore: str) -> DataFrame:
    return _fields_df(spark, explore, "dimension")


def get_measures(spark: SparkSession, explore: str) -> DataFrame:
    return _fields_df(spark, explore, "measure")


def get_looks(spark: SparkSession) -> DataFrame:
    rows = [
        (lk.look_id, lk.title, lk.explore, json.dumps(list(lk.fields)))
        for lk in LOOKS.values()
    ]
    return local_frame(
        spark, rows, "look_id int, title string, explore string, fields string"
    )


def run_look(spark: SparkSession, sf_dir: str, look_id: int) -> DataFrame:
    lk = LOOKS.get(int(look_id))
    if lk is None:
        raise KeyError(f"unknown look_id {look_id}; known: {sorted(LOOKS)}")
    return run_query(
        spark, sf_dir, lk.explore, list(lk.fields), dict(lk.filters),
        list(lk.sorts) or None, lk.limit,
    )


def look_oracle_sql(look_id: int) -> str:
    lk = LOOKS[look_id]
    return _oracle_sql(
        lk.explore, list(lk.fields), dict(lk.filters),
        list(lk.sorts) or None, lk.limit,
    )
