"""Gated SQL execution + the row-as-JSON result contract.

The reference's `execute_sql` is arbitrary-SQL passthrough
(`/root/reference/images/redshift/redshift.yaml:44-48`,
`/root/reference/tests/sqlite/sqlite.yaml:26-34`) and `run_snowflake_query`
is the same behind the statement-type gate
(`/root/reference/tests/snowflake/test_mcp.py:820-849`). Results surface as
one JSON object per row in MCP `result.content`
(`/root/reference/tests/redshift/example_usage.py:54-65`).

Here the engine is Spark SQL: gate → `spark.sql` → Catalyst/Tungsten.
Parameter binding (the reference's three modes: `$1` positional, `:name`
named, `{{sql}}` raw template — SURVEY.md §3) collapses to Spark's native
parameterized SQL `spark.sql(stmt, args=...)`.

A served read pays a fixed floor whatever the data size, so it is kept
small: the row renderer is one SQL projection built in Python (a handful
of py4j calls, not a `Column` call per field), and the capped collect's
first job covers up to `cpus` scan splits (`capped_mcp_content`), so a
point read is one Spark job. Tool results the driver already
holds (catalog answers, docstore acknowledgements) are LocalRelations and
render without a Spark job.
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from database_toolbox_spark.gate import check


def execute_sql(
    spark: SparkSession, sql: str, args: dict[str, Any] | list[Any] | None = None
) -> DataFrame:
    """Run a statement after the permission gate; raises StatementDenied for
    write/DDL/unknown statement classes (default-deny, SURVEY.md §2.C)."""
    check(sql)
    if args:
        return spark.sql(sql, args=args)
    return spark.sql(sql)


def json_rows(df: DataFrame, limit: int | None = None) -> DataFrame:
    """One JSON string column, one row per result row, capped at ``limit``.

    Rows render executor-side with ``to_json(struct(...))``, built as one
    SQL projection (a single ``selectExpr`` instead of a PySpark ``Column``
    call per field), and the cap stays a DataFrame ``limit`` at the plan
    root, so it plans as a ``CollectLimit`` (``TakeOrderedAndProject``
    under an ORDER BY) that reads only as many partitions as it needs.
    ``df.toJSON()`` would drop to an RDD first, and the limit would then
    plan as a ``GlobalLimit`` over a single-partition shuffle. The strings
    are the ones ``Dataset.toJSON`` writes: columns are renamed
    positionally before the struct is built (duplicate and dotted names
    stay addressable) and cast to the row encoder's types, which is what
    ``toJSON`` renders (ANSI intervals widen to DAY TO SECOND / YEAR TO
    MONTH). The cast target is the encoder type's own SQL text, so nested
    field names that need quoting parse. Null fields are omitted and
    timestamps use the session time zone, as in ``toJSON``."""
    jenc = df._jdf.exprEnc().schema()
    enc = T.StructType.fromJson(json.loads(jenc.json()))
    fields = []
    for i, (f, e) in enumerate(zip(df.schema.fields, enc.fields)):
        col = f"`_{i}`"
        if e.dataType != f.dataType:
            col = f"CAST({col} AS {jenc.apply(i).dataType().sql()})"
        name = f.name.replace("`", "``")
        fields.append(f"{col} AS `{name}`")
    out = df.toDF(*[f"_{i}" for i in range(len(fields))]).selectExpr(
        f"to_json(struct({', '.join(fields)})) AS json"
    )
    return out if limit is None else out.limit(limit)


def rows_as_json(df: DataFrame, limit: int | None = None) -> list[str]:
    """Serialize a result as one JSON string per row — the reference's result
    contract (tests/redshift/example_usage.py:54-65: clients json.loads each
    content item). Serialized executor-side (see json_rows); only the final
    strings are collected. `limit` caps driver memory for interactive use."""
    return [r[0] for r in json_rows(df, limit).collect()]


def mcp_content(df: DataFrame, limit: int | None = None) -> list[dict[str, str]]:
    """MCP `result.content` shape: a list of {"type": "text", "text": <row
    JSON>} items, one per row (tests/postgres/test_mcp.py:143-153)."""
    return [{"type": "text", "text": row} for row in rows_as_json(df, limit=limit)]


DEFAULT_MAX_TOOL_ROWS = 10_000


def max_tool_rows() -> int:
    """Row cap for the tool-call surface; SPARK_GRAFT_MAX_TOOL_ROWS
    overrides, 0 disables."""
    import os

    return int(os.environ.get("SPARK_GRAFT_MAX_TOOL_ROWS", DEFAULT_MAX_TOOL_ROWS))


def capped_mcp_content(
    df: DataFrame, max_rows: int | None = None
) -> list[dict[str, str]]:
    """`mcp_content` with driver-memory insurance: at most `max_rows` row
    items are collected (fetching max_rows+1 detects overflow without a
    count job); a trailing `{"truncated": true, "max_rows": N}` item flags
    the cut, mirroring `isError`-style signaling. The cap protects the
    driver from `SELECT * FROM lineitem` arriving over MCP — the plan
    itself stays distributed, and the cap is a CollectLimit at its root
    (see json_rows), so no shuffle and no extra job gathers the capped
    rows. The CollectLimit's first job scans up to `cpus` partitions
    (`spark.sql.limit.initialNumPartitions`, set by `session.get_spark`
    to its local thread count, 32 by default), so a point read whose
    match sits in any of those scan splits runs one Spark job. Each
    partition of a round renders up to max_rows+1 rows, so the first job
    hands the driver at most min(cpus, splits) x (max_rows+1) rendered
    rows; an unordered bulk read over many non-empty splits (`SELECT *`
    over a multi-row-group table) pays for the point-read job in rendered
    rows and driver bytes."""
    n = max_tool_rows() if max_rows is None else max_rows
    if n <= 0:
        return mcp_content(df)
    rows = rows_as_json(df, limit=n + 1)
    content = [{"type": "text", "text": row} for row in rows[:n]]
    if len(rows) > n:
        content.append(
            {
                "type": "text",
                "text": json.dumps({"truncated": True, "max_rows": n}),
            }
        )
    return content


def scalar(df: DataFrame) -> Any:
    """First column of the first row (for `SELECT 1 AS one`-style probes,
    tests/bigquery/test_mcp.py:175)."""
    row = df.first()
    return None if row is None else row[0]


def result_payload(df: DataFrame, limit: int | None = None) -> str:
    """Whole result as a single JSON document (convenience beyond the
    reference's per-row contract)."""
    return json.dumps([json.loads(r) for r in rows_as_json(df, limit=limit)])
