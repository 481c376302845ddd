"""Firestore-style document-collection surface over Spark tables.

The reference ships Firestore as a first-class prebuilt image
(`images/firestore/Dockerfile`, `images/firestore/entrypoint.sh:51`
`--prebuilt firestore`, `README.md:149` "Serverless document database …
Document") whose toolset is document-oriented — list collections, fetch
documents by path, query a collection with field filters — not SQL. This
module is that surface re-expressed Spark-first: every registered table is a
collection, every row is a document whose path is
`<collection>/<primary-key>`, and the document body is the row itself.

Design decisions (Spark-native, not a Firestore emulation):

- A query returns the documents as TYPED COLUMNS plus a `doc_path` column,
  not JSON blobs — keeping fields as columns is what lets Catalyst prune
  columns and push filters to the parquet scan. `get_documents` (a pointed
  lookup) additionally renders the full document as a JSON `data` column,
  matching the document-fetch shape clients expect.
- Filters are structured {field, op, value} triples, validated against the
  table schema and bound as typed literals — never string-spliced into SQL,
  so a hostile field/value cannot inject statements (the same posture as the
  reference's parameterized YAML tools).
- Writes (`add_documents` / `update_document` / `delete_documents` upstream)
  are deny-by-default through the same `StatementDenied` surface as the SQL
  gate — this engine's sinks policy is explicit-export-only. Round-9: a
  session may opt in (`spark.conf.set(WRITES_CONF, "session")`), which
  executes writes as session-scoped COPY-ON-WRITE view overlays (union /
  per-column CASE / anti-filter over the immutable parquet) — the upstream
  tool behavior without ever touching storage. Round-10: setting
  `$SPARK_GRAFT_DOCSTORE_PERSIST=<scratch dir>` additionally makes
  opted-in writes DURABLE — each write spools the overlay to
  `<dir>/<collection>.parquet` and `session.load_table` prefers that copy,
  so the write survives a fresh `load_tables()` / a new session (upstream
  Firestore durability). The fixture tree is refused as a persist target;
  unsetting the variable restores pristine fixture reads.

Scale shape: `query_collection` compiles to scan → pushed filters →
optional sort → limit (TakeOrderedAndProject when both present);
`get_documents` compiles each collection's id list to an IN predicate on the
key column (parquet row-group pruning applies) and collects the matches in
one Spark job — at most (requested paths) x (key multiplicity) rows, the
only row data brought to the driver; `update_document` counts its matches
with one bounded collect of the key predicate; `list_collections` reads
catalog metadata only.
"""

from __future__ import annotations

import functools
import json
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from database_toolbox_spark.gate import StatementDenied
from database_toolbox_spark.session import local_frame

# collection → document-id column(s). Composite keys join with '-' in the
# document path (Firestore ids are opaque strings, so 'l_orderkey-l_linenumber'
# is a faithful id shape for the one composite-key table).
COLLECTION_IDS: dict[str, tuple[str, ...]] = {
    "region": ("r_regionkey",),
    "nation": ("n_nationkey",),
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey",),
    "lineitem": ("l_orderkey", "l_linenumber"),
    "events": ("event_id",),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}

# Firestore structured-query operators (upstream firestore-query-collection
# filter ops), mapped to the Column method that implements each.
_FILTER_OPS = ("==", "!=", "<", "<=", ">", ">=", "in", "not-in")


def _registered(spark: SparkSession, name: str) -> bool:
    return spark.catalog.tableExists(name)


def _path_col(collection: str, id_cols: tuple[str, ...]):
    parts: list = [F.lit(f"{collection}/")]
    for i, c in enumerate(id_cols):
        if i:
            parts.append(F.lit("-"))
        parts.append(F.col(c).cast("string"))
    return F.concat(*parts).alias("doc_path")


def list_collections(spark: SparkSession, parent_path: str = "") -> DataFrame:
    """Upstream `firestore-list-collections`: collection ids visible to the
    session (declared collections whose backing view is registered),
    with each one's document-id field(s). `parent_path` keeps the upstream
    signature; this engine's collections are all root-level, so any
    non-empty parent yields an empty listing. Catalog metadata only —
    no data files are read."""
    rows = [
        (name, "-".join(ids))
        for name, ids in sorted(COLLECTION_IDS.items())
        if not parent_path and _registered(spark, name)
    ]
    return local_frame(
        spark,
        rows,
        T.StructType(
            [
                T.StructField("collection_id", T.StringType(), False),
                T.StructField("id_field", T.StringType(), False),
            ]
        ),
    )


def _typed_id(
    collection: str, raw: str, schema: dict[str, str]
) -> list[Any]:
    """Parse a path id segment into typed key values (ints for integer key
    columns) so the IN predicate stays pushdown-eligible — comparing a cast
    column to strings would block parquet filter pushdown. `schema` is the
    collection's column->simpleString map, resolved ONCE per collection by
    the caller (round-9 ADVICE: re-reading spark.table().schema per path
    made a batch lookup do O(paths) catalog round trips)."""
    id_cols = COLLECTION_IDS[collection]
    parts = raw.split("-", len(id_cols) - 1)
    if len(parts) != len(id_cols):
        raise ValueError(
            f"document id {raw!r} does not match key shape "
            f"{'-'.join(id_cols)} of collection {collection!r}"
        )
    out: list[Any] = []
    for col, part in zip(id_cols, parts):
        if schema[col] in ("bigint", "int", "smallint", "tinyint"):
            out.append(int(part))
        else:
            out.append(part)
    return out


def _parse_paths(document_paths: str) -> list[str]:
    """A JSON array of document paths, or a CSV of them; empty is an
    error."""
    try:
        paths = json.loads(document_paths)
        if not isinstance(paths, list):
            raise ValueError
        paths = [str(p) for p in paths]
    except (json.JSONDecodeError, ValueError):
        paths = [p.strip() for p in document_paths.split(",") if p.strip()]
    if not paths:
        raise ValueError("document_paths is empty")
    return paths


def _key_pred(id_cols: tuple[str, ...], keys: list[list[Any]]):
    """True for rows whose key columns equal any of `keys` (an OR of
    per-key ANDs over typed literals, pushdown-eligible)."""
    pred = F.lit(False)
    for key in keys:
        conj = F.lit(True)
        for c, v in zip(id_cols, key):
            conj = conj & (F.col(c) == F.lit(v))
        pred = pred | conj
    return pred


def get_documents(spark: SparkSession, document_paths: str) -> DataFrame:
    """Upstream `firestore-get-documents`: fetch documents by path.

    `document_paths` is a JSON array (or CSV) of `<collection>/<id>` paths.
    Returns one row per REQUESTED path in request order: (doc_path, found,
    data) with `data` the full document as JSON for found paths, NULL for
    missing ones (Firestore's missing-document marker). Unknown collections
    and malformed ids report found=false rather than erroring — a fetch of
    a nonexistent path is a lookup miss, not a caller bug.

    Scale shape: ids group by collection into typed IN predicates on the
    key column(s) — pushed to the parquet scan (row-group pruning) — and
    the per-collection matches union into one plan, collected in one
    Spark job (at most requested paths x key multiplicity rows). The
    driver already holds the path list, so request order, the missing
    markers and the duplicate-key collapse are applied there and the
    result is a LocalRelation."""
    paths = _parse_paths(document_paths)
    found: dict[str, str] = {}
    matches = _path_matches(spark, paths)
    if matches is not None:
        # guard-exempt: bounded driver fetch (requested paths x key multiplicity)
        for path, data in matches.collect():
            # a path denotes AT MOST ONE document: if the declared key is
            # non-unique in the backing table (the fixture's lineitem has
            # up-to-5x duplicate (l_orderkey, l_linenumber)), keep the
            # least JSON rendering (code point order, as Spark's min over
            # UTF-8 strings) — deterministic on any partitioning
            if path not in found or data < found[path]:
                found[path] = data
    return local_frame(
        spark,
        [(p, p in found, found.get(p)) for p in paths],
        T.StructType(
            [
                T.StructField("doc_path", T.StringType(), False),
                T.StructField("found", T.BooleanType(), False),
                T.StructField("data", T.StringType(), True),
            ]
        ),
    )


def _path_matches(spark: SparkSession, paths: list[str]) -> DataFrame | None:
    """(doc_path, data) for every stored row a path in `paths` names: one
    filtered scan per requested collection (an IN predicate, or an OR of
    key conjunctions for composite ids, on the key columns), unioned. No
    exchange, no join: the plan `get_documents` collects in one job. None
    when no path names a registered collection with a well-formed id."""
    by_coll: dict[str, list[list[Any]]] = {}
    schemas: dict[str, dict[str, str]] = {}
    for p in paths:
        coll, _, raw = p.partition("/")
        if coll in COLLECTION_IDS and raw and _registered(spark, coll):
            if coll not in schemas:
                schemas[coll] = {
                    f.name: f.dataType.simpleString()
                    for f in spark.table(coll).schema.fields
                }
            try:
                by_coll.setdefault(coll, []).append(
                    _typed_id(coll, raw, schemas[coll])
                )
            except ValueError:
                pass  # malformed id → lookup miss

    parts = []
    for coll, keys in by_coll.items():
        id_cols = COLLECTION_IDS[coll]
        df = spark.table(coll)
        if len(id_cols) == 1:
            pred = F.col(id_cols[0]).isin([k[0] for k in keys])
        else:
            pred = _key_pred(id_cols, keys)
        parts.append(
            df.where(pred).select(
                _path_col(coll, id_cols),
                F.to_json(F.struct(*df.columns)).alias("data"),
            )
        )
    return functools.reduce(DataFrame.unionByName, parts) if parts else None


def _collection(spark: SparkSession, collection: str):
    """The collection's registered view and its column -> DataType map;
    unknown or unregistered collections raise ValueError."""
    if collection not in COLLECTION_IDS:
        raise ValueError(
            f"unknown collection {collection!r}; collections: "
            f"{sorted(COLLECTION_IDS)}"
        )
    if not _registered(spark, collection):
        raise ValueError(f"collection {collection!r} is not registered")
    df = spark.table(collection)
    types = {f.name: f.dataType for f in df.schema.fields}
    return df, types


def _typed_lit(types: dict, field: str, value: Any):
    """Bind one filter value as a typed literal: string values targeting
    temporal columns are cast to the column type so the comparison stays
    a pushable predicate on the native type."""
    t = types[field].simpleString()
    if isinstance(value, str) and t in ("timestamp", "timestamp_ntz",
                                        "date"):
        return F.lit(value).cast(types[field])
    return F.lit(value)


def _apply_filters(
    df: DataFrame, types: dict, filters: str, collection: str
) -> DataFrame:
    """Validate and apply the structured filter triples (shared by
    query_collection and aggregate_collection). in/not-in bind each list
    element through the same typed-literal path as the scalar ops
    (round-9 ADVICE: the two op families used to type temporal values
    inconsistently)."""
    if not filters:
        return df
    spec = json.loads(filters)
    if not isinstance(spec, list):
        spec = [spec]
    for f in spec:
        field, op, value = f["field"], f["op"], f["value"]
        if field not in types:
            raise ValueError(
                f"unknown field {field!r} in collection {collection!r}"
            )
        if op not in _FILTER_OPS:
            raise ValueError(
                f"unknown filter op {op!r}; supported: {_FILTER_OPS}"
            )
        c = F.col(field)
        if op == "in" or op == "not-in":
            if not isinstance(value, list):
                raise ValueError(f"op {op!r} needs a list value")
            pred = c.isin([_typed_lit(types, field, v) for v in value])
            df = df.where(~pred if op == "not-in" else pred)
        else:
            v = _typed_lit(types, field, value)
            pred = {
                "==": c == v, "!=": c != v, "<": c < v,
                "<=": c <= v, ">": c > v, ">=": c >= v,
            }[op]
            df = df.where(pred)
    return df


def query_collection(
    spark: SparkSession,
    collection: str,
    filters: str = "",
    order_by: str = "",
    direction: str = "ASCENDING",
    limit: str = "",
    fields: str = "",
    start_at: str = "",
    start_after: str = "",
) -> DataFrame:
    """Upstream `firestore-query-collection`: filtered, ordered, limited
    read of one collection. `filters` is a JSON array of
    {"field": ..., "op": ..., "value": ...} triples (ANDed; ops
    ==, !=, <, <=, >, >=, in, not-in — the upstream structured-query set);
    `order_by`/`direction` (ASCENDING|DESCENDING) and `limit` are optional;
    `fields` is an optional CSV projection (the upstream select mask) —
    with it, the parquet ReadSchema shrinks to the named fields plus the
    key: document projection IS Catalyst column pruning here.

    Fields are validated against the collection schema and values bind as
    typed literals (string values targeting timestamp/date columns are
    cast), so no caller input reaches SQL text. Returns `doc_path` plus the
    document fields as typed columns — the Spark-first document shape that
    keeps column pruning and predicate pushdown intact.

    Cursor pagination (upstream startAt/startAfter): `start_at` /
    `start_after` take a JSON scalar cursor for the `order_by` field and
    compile to a KEYSET predicate (>= / > ascending, <= / < descending) —
    pushed to the scan like any filter, so page N costs the same as page
    1; no OFFSET-style skip-scan anywhere."""
    df, types = _collection(spark, collection)
    df = _apply_filters(df, types, filters, collection)

    if start_at and start_after:
        raise ValueError("use start_at OR start_after, not both")
    cursor = start_at or start_after
    if cursor:
        if not order_by:
            raise ValueError(
                "start_at/start_after require order_by (the cursor is a "
                "keyset value for the ordering field)"
            )
        if order_by not in types:
            raise ValueError(
                f"unknown order_by field {order_by!r} in {collection!r}"
            )
        v = _typed_lit(types, order_by, json.loads(cursor))
        c = F.col(order_by)
        if direction == "DESCENDING":
            pred = c < v if start_after else c <= v
        else:
            pred = c > v if start_after else c >= v
        df = df.where(pred)

    cols = list(df.columns)
    if fields:
        picked = [c.strip() for c in fields.split(",") if c.strip()]
        for c in picked:
            if c not in types:
                raise ValueError(
                    f"unknown field {c!r} in collection {collection!r}"
                )
        cols = picked
    out = df.select(_path_col(collection, COLLECTION_IDS[collection]), *cols)
    if order_by:
        if order_by not in types:
            raise ValueError(
                f"unknown order_by field {order_by!r} in {collection!r}"
            )
        if direction not in ("ASCENDING", "DESCENDING"):
            raise ValueError(
                "direction must be ASCENDING or DESCENDING, got "
                f"{direction!r}"
            )
        key = F.col(order_by)
        out = out.orderBy(
            key.desc() if direction == "DESCENDING" else key.asc()
        )
    if limit:
        out = out.limit(int(limit))
    return out


# Firestore aggregation-query ops (count() / sum() / avg() over a filtered
# collection — the upstream structured aggregation surface).
_AGG_OPS = ("count", "sum", "avg")


def aggregate_collection(
    spark: SparkSession,
    collection: str,
    aggregations: str,
    filters: str = "",
) -> DataFrame:
    """Upstream Firestore aggregation query: `count()` / `sum(field)` /
    `avg(field)` over a (optionally filtered) collection, several at once.

    `aggregations` is a JSON array of {"op": "count"|"sum"|"avg",
    "field": ..., "alias": ...} specs (field required for sum/avg; alias
    defaults to op or op_field). Filters are the same validated
    structured triples as query_collection. Returns exactly one row with
    one column per aggregate.

    Scale shape: filters push to the parquet scan, the aggregate is a
    partial-aggregatable one-pass reduction (map-side combine, single
    scalar per aggregate per partition) — the server never pages document
    data to compute a count, which is the entire point of Firestore's
    server-side aggregation surface."""
    df, types = _collection(spark, collection)
    df = _apply_filters(df, types, filters, collection)

    spec = json.loads(aggregations)
    if not isinstance(spec, list):
        spec = [spec]
    if not spec:
        raise ValueError("aggregations is empty")
    aggs = []
    numeric = ("bigint", "int", "smallint", "tinyint", "double", "float")
    for a in spec:
        op = a.get("op")
        if op not in _AGG_OPS:
            raise ValueError(
                f"unknown aggregation op {op!r}; supported: {_AGG_OPS}"
            )
        field = a.get("field", "")
        if op == "count":
            alias = a.get("alias") or "count"
            aggs.append(F.count(F.lit(1)).alias(alias))
            continue
        if field not in types:
            raise ValueError(
                f"unknown field {field!r} in collection {collection!r}"
            )
        t = types[field].simpleString()
        if not (t in numeric or t.startswith("decimal")):
            raise ValueError(
                f"aggregation {op!r} needs a numeric field; "
                f"{field!r} is {t}"
            )
        alias = a.get("alias") or f"{op}_{field}"
        fn = F.sum if op == "sum" else F.avg
        aggs.append(fn(F.col(field)).alias(alias))
    return df.agg(*aggs)


def get_rules(spark: SparkSession) -> DataFrame:
    """Upstream `firestore-get-rules` analog: the engine's access-policy
    source. Firestore's security rules decide which reads/writes pass; this
    engine's equivalent is the statement-class gate, so the tool returns
    the live ALLOWED/DENIED class tables (the policy callers are subject
    to through execute_sql and the write-tool denials)."""
    from database_toolbox_spark import gate  # noqa: PLC0415

    rows = [("allow", c) for c in sorted(gate.ALLOWED_CLASSES)] + [
        ("deny", c) for c in sorted(gate.DENIED_CLASSES)
    ]
    return local_frame(
        spark,
        rows,
        T.StructType(
            [
                T.StructField("effect", T.StringType(), False),
                T.StructField("statement_class", T.StringType(), False),
            ]
        ),
    )


# --- document writes: deny-by-default, session-overlay when opted in ---------
#
# Upstream ships add/update/delete document tools (README.md:792-836 env
# contract). This engine's sinks policy is explicit-export-only, so by
# default these raise StatementDenied exactly like a denied SQL statement.
# Round-9: an operator can OPT IN per session
# (spark.conf.set(WRITES_CONF, "session")), which executes writes as
# SESSION-SCOPED copy-on-write VIEW overlays — the registered temp view is
# replaced by a DataFrame that unions new rows onto (add), rewrites columns
# of (update, a per-column CASE) or filters rows out of (delete, a NOT
# key-IN filter) the immutable parquet; added rows are a LocalRelation, so
# reads of the overlaid view stay JVM-only. Storage is never touched (the
# sinks policy holds). The overlay is a caller-substituted view to
# load_tables(), which keeps it; load_tables(replace=True) drops it. This
# is the Spark-native reading of a document write: a new logical plan over
# the same files, not an in-place mutation.

WRITES_CONF = "spark.database_toolbox.docstore.writes"


def _writes_enabled(spark: SparkSession) -> bool:
    return spark.conf.get(WRITES_CONF, "deny") == "session"


def _persist_overlay(spark: SparkSession, collection: str) -> None:
    """Round-10 (opt-in on top of opt-in): when $SPARK_GRAFT_DOCSTORE_PERSIST
    names a scratch directory, write the collection's current overlay view
    back to `<dir>/<collection>.parquet` and re-register the view from the
    persisted copy — session registration prefers that copy, so the write
    survives load_tables(replace=True) / a new session (upstream Firestore
    durability, README.md:792-836). Write-to-tmp-then-swap: the overlay
    plan may READ the previous persisted copy, so it is fully spooled to a
    sibling tmp dataset before the old files are replaced. The fixture
    tree is refused — the sinks policy ("never the source dir") holds."""
    import os  # noqa: PLC0415
    import shutil  # noqa: PLC0415

    from database_toolbox_spark.session import (  # noqa: PLC0415
        DOCSTORE_PERSIST_ENV,
        active_sf_dir,
        load_table,
        scratch_dir,
    )

    d = scratch_dir(DOCSTORE_PERSIST_ENV)
    if d is None:
        return
    os.makedirs(d, exist_ok=True)
    dst = os.path.join(d, f"{collection}.parquet")
    tmp = dst + ".tmp"
    spark.table(collection).write.mode("overwrite").parquet(tmp)
    shutil.rmtree(dst, ignore_errors=True)
    os.replace(tmp, dst) if os.path.isfile(tmp) else shutil.move(tmp, dst)
    load_table(spark, active_sf_dir(), collection, replace=True)


def _deny(name: str) -> None:
    cls = {"add_documents": "Insert", "update_document": "Update",
           "delete_documents": "Delete"}.get(name, "Command")
    raise StatementDenied(cls, f"tools/call {name}")


def _coerce_row(types: dict, doc: dict, collection: str) -> dict:
    """Validate a document dict against the collection schema and coerce
    JSON scalars onto the column types (ints for integer columns, floats
    for doubles). Unknown fields are rejected — a document store with a
    declared schema is a table, not a blob bucket."""
    out: dict[str, Any] = {}
    for field, value in doc.items():
        if field not in types:
            raise ValueError(
                f"unknown field {field!r} in collection {collection!r}"
            )
        t = types[field].simpleString()
        if value is None:
            out[field] = None
        elif t in ("bigint", "int", "smallint", "tinyint"):
            out[field] = int(value)
        elif t in ("double", "float") or t.startswith("decimal"):
            out[field] = float(value)
        else:
            out[field] = value
    return out


def add_documents(
    spark: SparkSession, collection: str, documents: str
) -> DataFrame:
    """Upstream `firestore-add-documents` (opt-in; see section comment):
    append documents (JSON array of field dicts, key fields required) to
    the collection's session view. Returns (doc_path, action) per added
    document. The overlay plan is base UNION ALL a LocalRelation of the
    new rows (session.local_frame) — the parquet scan under it is untouched,
    every prior pushdown still applies, and no later read of the view runs
    a Python worker."""
    if not _writes_enabled(spark):
        _deny("add_documents")
    df, types = _collection(spark, collection)
    docs = json.loads(documents)
    if not isinstance(docs, list):
        docs = [docs]
    if not docs:
        raise ValueError("documents is empty")
    id_cols = COLLECTION_IDS[collection]
    rows = []
    for doc in docs:
        row = _coerce_row(types, doc, collection)
        for k in id_cols:
            if row.get(k) is None:
                raise ValueError(
                    f"document is missing key field {k!r} of "
                    f"collection {collection!r}"
                )
        rows.append(row)
    new = local_frame(
        spark, [tuple(r.get(c) for c in df.columns) for r in rows], df.schema
    )
    df.unionByName(new).createOrReplaceTempView(collection)
    _persist_overlay(spark, collection)
    return new.select(
        _path_col(collection, id_cols),
        F.lit("added").alias("action"),
    )


def update_document(
    spark: SparkSession, collection: str, document_path: str, fields: str
) -> DataFrame:
    """Upstream `firestore-update-document` (opt-in): set fields (JSON
    dict) on the document at `document_path`. Overlay plan = base with a
    per-column CASE on the key predicate — one projection, no shuffle.
    Returns (doc_path, action, n_matched)."""
    if not _writes_enabled(spark):
        _deny("update_document")
    coll, _, raw = document_path.partition("/")
    if coll != collection or not raw:
        raise ValueError(
            f"document_path {document_path!r} is not in collection "
            f"{collection!r}"
        )
    df, types = _collection(spark, collection)
    schema = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    key = _typed_id(collection, raw, schema)
    id_cols = COLLECTION_IDS[collection]
    upd = _coerce_row(types, json.loads(fields), collection)
    for k in id_cols:
        if k in upd:
            raise ValueError(f"cannot update key field {k!r}")
    pred = _key_pred(id_cols, [key])
    # one job (a count() would add a shuffle stage's job): a literal per
    # row the key matches, at most the key's multiplicity
    # guard-exempt: bounded driver fetch (rows matching one document key)
    n = len(df.where(pred).select(F.lit(1)).collect())
    out = df.select(*[
        F.when(pred, F.lit(upd[c]).cast(types[c])).otherwise(F.col(c))
        .alias(c) if c in upd else F.col(c)
        for c in df.columns
    ])
    out.createOrReplaceTempView(collection)
    _persist_overlay(spark, collection)
    return local_frame(
        spark,
        [(document_path, "updated", n)],
        T.StructType([
            T.StructField("doc_path", T.StringType(), False),
            T.StructField("action", T.StringType(), False),
            T.StructField("n_matched", T.LongType(), False),
        ]),
    )


def delete_documents(
    spark: SparkSession, collection: str, document_paths: str
) -> DataFrame:
    """Upstream `firestore-delete-documents` (opt-in): remove the listed
    paths from the collection's session view. Overlay plan = base with a
    NOT(key-in) filter (pushdown-eligible). Returns (doc_path, action)
    per requested path."""
    if not _writes_enabled(spark):
        _deny("delete_documents")
    df, types = _collection(spark, collection)
    paths = _parse_paths(document_paths)
    schema = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    id_cols = COLLECTION_IDS[collection]
    keys = []
    for p in paths:
        coll, _, raw = p.partition("/")
        if coll != collection or not raw:
            raise ValueError(
                f"document_path {p!r} is not in collection {collection!r}"
            )
        keys.append(_typed_id(collection, raw, schema))
    df.where(~_key_pred(id_cols, keys)).createOrReplaceTempView(collection)
    _persist_overlay(spark, collection)
    return local_frame(
        spark,
        [(p, "deleted") for p in paths],
        T.StructType([
            T.StructField("doc_path", T.StringType(), False),
            T.StructField("action", T.StringType(), False),
        ]),
    )


def denied_write_tool(name: str):
    """Factory for the upstream write tools (`firestore-add-documents`,
    `firestore-update-document`, `firestore-delete-documents`): registered
    so the toolset surface is complete, deny-by-default through the same
    exception type as the SQL gate. Round-9: when the session has opted in
    (WRITES_CONF = "session"), dispatch to the copy-on-write overlay
    implementations above instead of denying."""

    def fn(spark: SparkSession, **kwargs: Any) -> DataFrame:
        if _writes_enabled(spark):
            impl = {"add_documents": add_documents,
                    "update_document": update_document,
                    "delete_documents": delete_documents}.get(name)
            if impl is not None:
                return impl(spark, **kwargs)
        _deny(name)

    return fn
