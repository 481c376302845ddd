"""Off-the-clock correctness checks against DuckDB over the same parquet.

Row results are canonicalized with ``scripts/driver_check.py``'s ``_canon``
(sort columns, sort rows, stringify, hash). Tool results arrive as JSON
rows, so their cells are first normalized to one spelling per value (floats
to 10 significant digits) on both sides.
"""

from __future__ import annotations

import importlib.util
import json
import math
import os

import duckdb
import pandas as pd

from gen import TABLES


def _load_canon(root: str):
    path = os.path.join(root, "scripts", "driver_check.py")
    spec = importlib.util.spec_from_file_location("driver_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._canon


def _cell(v) -> str:
    return f"{v:.10g}" if isinstance(v, float) else str(v)


class Checker:
    """One DuckDB connection mirroring the engine's view of the data. For
    ``tool_calls_rw`` the written collections are DuckDB tables that the
    checker updates with each verified write, so later reads are judged
    against the state the writes imply."""

    def __init__(self, root: str, sf_dir: str, domains: dict,
                 mirror_writes: bool) -> None:
        self.canon = _load_canon(root)
        self.sf_dir = sf_dir
        self.columns = domains["columns"]
        self.mirrored = ("customer", "orders") if mirror_writes else ()
        self.con = duckdb.connect()
        for t in TABLES:
            if t not in self.mirrored:
                self.con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self._path(t)}')")
        self.reset()
        self._oracles: dict[str, object] = {}

    def _path(self, t: str) -> str:
        return os.path.join(self.sf_dir, t + ".parquet")

    def reset(self) -> None:
        """Back to the parquet state (start of a tool_calls_rw pass)."""
        for t in self.mirrored:
            self.con.execute(
                f"CREATE OR REPLACE TABLE {t} AS SELECT * FROM "
                f"read_parquet('{self._path(t)}')")

    def close(self) -> None:
        self.con.close()

    # --- helpers ---------------------------------------------------------

    def _duck(self, sql: str) -> tuple[list[str], list[tuple]]:
        rel = self.con.sql(sql)
        return rel.columns, rel.fetchall()

    def _same_rows(self, cols, got: list[dict], want: list[tuple]) -> bool:
        a = pd.DataFrame([[_cell(r.get(c)) for c in cols] for r in got],
                         columns=cols)
        b = pd.DataFrame([[_cell(v) for v in r] for r in want], columns=cols)
        return len(a) == len(b) and self.canon(a)[0] == self.canon(b)[0]

    # --- tool calls ------------------------------------------------------

    def tool(self, op: dict, resp: dict) -> str | None:
        """None when the response is right, else a one-line reason."""
        exp = op["expect"]
        res = resp.get("result")
        if res is None:
            return f"protocol error {resp.get('error')}"
        items = [c["text"] for c in res["content"]]
        if exp["kind"] == "denied":
            want = f"statement class '{exp['statement_class']}' is not permitted"
            ok = res["isError"] and items and items[0].startswith(want)
            return None if ok else f"not denied as {exp['statement_class']}: {items[:1]}"
        if res["isError"]:
            return f"tool error: {items[:1]}"
        rows = [json.loads(t) for t in items]
        marker = rows[-1] if rows and rows[-1].get("truncated") is True else None
        if marker is not None:
            rows = rows[:-1]
        return getattr(self, "_" + exp["kind"])(op, exp, rows, marker)

    def _sql(self, op, exp, rows, marker):
        cols, want = self._duck(exp["sql"])
        n = exp.get("max_rows")
        if n is not None:
            if (marker is not None) != (len(want) > n):
                return f"truncation flag wrong ({len(want)} rows, cap {n})"
            want = want[:n]
        return None if self._same_rows(cols, rows, want) else "rows differ"

    def _rows(self, op, exp, rows, marker):
        cols, want = self._duck(exp["sql"])
        return None if self._same_rows(cols, rows, want) else "rows differ"

    _query_collection = _rows

    def _aggregate(self, op, exp, rows, marker):
        """An unrounded float sum differs between engines in its last
        bits, so sums compare within a relative 1e-9, counts exactly."""
        cols, want = self._duck(exp["sql"])
        if len(rows) != 1 or len(want) != 1:
            return f"{len(rows)} aggregate rows, expected 1"
        for c, w in zip(cols, want[0]):
            g = rows[0].get(c)
            same = (math.isclose(g, w, rel_tol=1e-9)
                    if isinstance(w, float) and isinstance(g, (int, float))
                    else g == w)
            if not same:
                return f"{c} = {g!r}, expected {w!r}"
        return None

    def _count(self, op, exp, rows, marker):
        coll = op["args"]["collection"]
        have = self._duck(f"SELECT count(*) FROM {coll}")[1][0][0]
        got = rows[0]["n"] if rows else None
        if got != exp["count"] or have != exp["count"]:
            return f"{coll} count {got}, mirror {have}, predicted {exp['count']}"
        return None

    def _list_tables(self, op, exp, rows, marker):
        by_table: dict[str, list] = {}
        for r in rows:
            by_table.setdefault(r["table_name"], []).append(
                (r["column_position"], r["column_name"]))
        for t in exp["tables"]:
            if [c for _, c in sorted(by_table.get(t, []))] != self.columns[t]:
                return f"columns of {t} differ"
        if op["args"]["table_names"] and set(by_table) != set(exp["tables"]):
            return f"unrequested tables {sorted(set(by_table) - set(exp['tables']))}"
        return None

    def _search(self, op, exp, rows, marker):
        term = exp["term"]
        hits = [(t, c) for t in sorted(self.columns)
                for c in self.columns[t] if term in t or term in c.lower()]
        got = [(r["table_name"], r["column_name"]) for r in rows]
        return None if got == hits[:exp["page_size"]] else "search page differs"

    def _lookup(self, op, exp, rows, marker):
        got = [r["column_name"] for r in sorted(rows, key=lambda r: r["column_position"])]
        if got != self.columns[exp["table"]] or any(
                r["table_name"] != exp["table"] for r in rows):
            return "entry columns differ"
        return None

    def _explain(self, op, exp, rows, marker):
        text = " ".join(json.dumps(r) for r in rows)
        return None if "Physical Plan" in text else "no physical plan"

    def _get_documents(self, op, exp, rows, marker):
        if [r["doc_path"] for r in rows] != exp["paths"]:
            return "document order differs"
        for r in rows:
            coll, _, key = r["doc_path"].partition("/")
            kcol = {"customer": "c_custkey", "orders": "o_orderkey"}[coll]
            cols, want = self._duck(
                f"SELECT * FROM {coll} WHERE {kcol} = {int(key)}")
            if bool(r["found"]) != bool(want):
                return f"{r['doc_path']} found={r['found']}, expected {bool(want)}"
            if want:
                data = json.loads(r["data"])
                for c, v in zip(cols, want[0]):
                    if isinstance(v, (int, float, str)) and _cell(data.get(c)) != _cell(v):
                        return f"{r['doc_path']}.{c} = {data.get(c)!r}, expected {v!r}"
        return None

    def _write(self, op, exp, rows, marker):
        action = op["tool"]
        if action == "update_document" and [r.get("n_matched") for r in rows] != [1]:
            return f"update matched {[r.get('n_matched') for r in rows]}"
        if action != "update_document" and len(rows) != len(exp["mirror"]):
            return f"{action} returned {len(rows)} rows"
        for m in exp["mirror"]:
            if m[0] == "insert":
                _, t, doc = m
                cols = ", ".join(doc)
                marks = ", ".join("?" for _ in doc)
                self.con.execute(f"INSERT INTO {t} ({cols}) VALUES ({marks})",
                                 list(doc.values()))
            elif m[0] == "update":
                _, t, kcol, key, fields = m
                sets = ", ".join(f"{c} = ?" for c in fields)
                self.con.execute(f"UPDATE {t} SET {sets} WHERE {kcol} = ?",
                                 [*fields.values(), key])
            else:
                _, t, kcol, key = m
                self.con.execute(f"DELETE FROM {t} WHERE {kcol} = ?", [key])
        return None

    # --- batch queries ---------------------------------------------------

    def query(self, name: str, oracle_sql: str, spark_pdf) -> str | None:
        """The driver_check comparison: row count, column set, canonical
        hash of the Spark result against the DuckDB oracle."""
        if name not in self._oracles:
            self._oracles[name] = self.canon(self.con.sql(oracle_sql).df())
        want_hash, want = self._oracles[name]
        got_hash, got = self.canon(spark_pdf)
        if len(got) != len(want) or sorted(got.columns) != sorted(want.columns):
            return f"shape {got.shape} vs oracle {want.shape}"
        return None if got_hash == want_hash else "oracle hash differs"
