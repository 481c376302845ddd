"""Driver-faithful correctness check: run queries() vs oracle_sql() through
the SAME pandas path the per-round driver uses, so typing hazards the lenient
tests/conftest.py comparator forgives (DuckDB HUGEINT -> float64, unhashable
list cells) show up locally BEFORE the round gate.

Every run also updates SWEEP_CURRENT.json at the repo root: a per-query
{ok, rows, sec} ledger plus the registry size at write time. Spot-checking a
new query records it; a full no-argument sweep rewrites the whole ledger and
prunes names no longer in the registry. tests/test_round5_ops.py asserts the
ledger covers the registry with every entry ok — the round-4 sweep-last
failure (a query landing after the final sweep and shipping unchecked) is now
structurally impossible while the suite is green.

Usage:
    python scripts/driver_check.py [query ...]      # default: all queries
    SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01 python scripts/driver_check.py
    SPARK_GRAFT_SWEEP_OUT=SWEEP_r05.json python scripts/driver_check.py
        # full sweep, also writes the round artifact
    python scripts/driver_check.py --hash-manifest [query ...]
        # additionally (re)write ORACLE_MANIFEST.json: query -> canonical
        # ORACLE result hash (+ row count) at sf0.01. Committed to git so
        # comparator drift — an oracle SQL edit, a DuckDB version bump, a
        # testdata regeneration — shows up as a reviewable diff instead of
        # a silent re-baseline (round-7 verdict item 5).
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from database_toolbox_spark.session import TABLES, get_spark, table_path
from database_toolbox_spark.session import measured, warm_up

import __spark_entry__ as entrymod

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


def _canon(df):
    """Mimic the driver: sort columns by name, sort rows, stringify, hash."""
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    cells = df.astype(str).values.tolist()
    blob = "\n".join("|".join(r) for r in cells)
    return hashlib.sha256(blob.encode()).hexdigest(), df


def main() -> int:
    args = sys.argv[1:]
    write_manifest = "--hash-manifest" in args
    only = {a for a in args if not a.startswith("--")}
    spark = get_spark(app_name="driver-check", cpus="8", shuffle_partitions="8")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{table_path(SF_DIR, t)}')"
        )
    # one-time session costs would otherwise show up as phantom 5-8 s
    # outliers on the alphabetically-first queries in the slowest report
    warm_up(spark, SF_DIR)

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = sorted(only or queries.keys())
    results, n_bad = {}, 0
    oracle_hashes: dict[str, dict] = {}
    for name in names:
        if name not in queries:
            print(f"{name}: NO SUCH QUERY", flush=True)
            n_bad += 1
            continue
        oracle = oracles.get(name)
        try:
            # the scope releases the query's checkpoints on exit
            with measured(spark, name) as run:
                sdf = run.execute(
                    run.build(queries[name], spark, SF_DIR).toPandas
                )
            elapsed = round(run.seconds, 3)
            if oracle is None:
                results[name] = {"rows_only": len(sdf), "rows": len(sdf),
                                 "sec": elapsed}
                print(f"{name}: rows-only ({len(sdf)}, {elapsed}s)", flush=True)
                continue
            ddf = con.sql(oracle).df()
            s_hash, s_c = _canon(sdf)
            d_hash, d_c = _canon(ddf)
            oracle_hashes[name] = {"oracle_hash": d_hash, "rows": len(ddf)}
            ok = (
                len(sdf) == len(ddf)
                and sorted(sdf.columns) == sorted(ddf.columns)
                and s_hash == d_hash
            )
            results[name] = {
                "rows_match": len(sdf) == len(ddf),
                "schema_match": sorted(sdf.columns) == sorted(ddf.columns),
                "hash_match": s_hash == d_hash,
                "rows": len(sdf),
            }
            if not ok:
                n_bad += 1
                print(f"{name}: MISMATCH {results[name]}", flush=True)
                if s_hash != d_hash and len(s_c) == len(d_c):
                    for i in range(len(s_c)):
                        sr = list(s_c.iloc[i].astype(str))
                        dr = list(d_c.iloc[i].astype(str))
                        if sr != dr:
                            print(f"  first diff row {i}:")
                            print(f"    spark : {sr}")
                            print(f"    duckdb: {dr}")
                            break
            else:
                print(f"{name}: ok ({len(sdf)} rows, {elapsed}s)", flush=True)
            results[name]["sec"] = elapsed
        except Exception as e:  # noqa: BLE001 - report and continue
            n_bad += 1
            results[name] = {"err": f"{type(e).__name__}: {e}"}
            print(f"{name}: ERROR {type(e).__name__}: {str(e)[:300]}", flush=True)
    slow = sorted(
        ((n, r["sec"]) for n, r in results.items() if r.get("sec")),
        key=lambda x: -x[1],
    )[:10]
    _update_sweep_ledger(results, set(queries), full_sweep=not only)
    if write_manifest:
        _update_manifest(oracle_hashes, set(queries), full_sweep=not only)
    summary = {"checked": len(names), "bad": n_bad, "slowest": slow}
    out_path = os.environ.get("SPARK_GRAFT_SWEEP_OUT")
    if out_path and not only:
        with open(os.path.join(_REPO, out_path), "w") as f:
            json.dump({**summary, "results": results}, f, indent=0)
            f.write("\n")
    print(json.dumps(summary))
    return 1 if n_bad else 0


_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LEDGER = os.path.join(_REPO, "SWEEP_CURRENT.json")


def _update_sweep_ledger(results, registry_names, full_sweep):
    """Merge this run's results into SWEEP_CURRENT.json (see module doc)."""
    ledger = {"queries": {}}
    if not full_sweep:
        try:
            with open(LEDGER) as f:
                ledger = json.load(f)
        except (OSError, ValueError):
            pass
    entries = ledger.get("queries", {})
    for name, r in results.items():
        ok = (
            "err" not in r
            and r.get("hash_match", "rows_only" in r) is not False
            and r.get("rows_match", True)
            and r.get("schema_match", True)
        )
        entries[name] = {
            "ok": bool(ok),
            "rows": r.get("rows"),
            "sec": r.get("sec"),
            "oracle": "rows_only" not in r and "err" not in r,
        }
    # prune names that left the registry (e.g. demoted demos)
    entries = {n: e for n, e in entries.items() if n in registry_names}
    with open(LEDGER, "w") as f:
        json.dump(
            {"n_registry": len(registry_names), "queries": entries},
            f,
            indent=1,
            sort_keys=True,
        )
        f.write("\n")


MANIFEST = os.path.join(_REPO, "ORACLE_MANIFEST.json")


def _update_manifest(oracle_hashes, registry_names, full_sweep):
    """(Re)write ORACLE_MANIFEST.json: query -> canonical oracle-result hash
    at the check sf. Spot runs merge, a full sweep rewrites and prunes (the
    same semantics as the sweep ledger). The file is committed so any drift
    in what the comparator checks against is a git diff, not a silent
    re-baseline. Only meaningful at the driver's sf0.01 — other
    SPARK_GRAFT_TEST_SF_DIR values would hash different data."""
    entries: dict[str, dict] = {}
    if not full_sweep:
        try:
            with open(MANIFEST) as f:
                loaded = json.load(f)
        except (OSError, ValueError):
            loaded = {}
        # a spot run under a DIFFERENT sf_dir must not merge its hashes
        # into a manifest recorded against other data (round-9 ADVICE:
        # the silent merge mixed datasets while rewriting sf_dir)
        if loaded and loaded.get("sf_dir") != SF_DIR:
            print(
                f"manifest sf_dir {loaded.get('sf_dir')!r} != current "
                f"{SF_DIR!r}; skipping manifest merge (full sweep "
                "rewrites)", file=sys.stderr,
            )
            return
        entries = loaded.get("queries", {})
    entries.update(oracle_hashes)
    entries = {n: e for n, e in entries.items() if n in registry_names}
    with open(MANIFEST, "w") as f:
        json.dump(
            {"sf_dir": SF_DIR, "n_queries": len(entries),
             "queries": entries},
            f,
            indent=1,
            sort_keys=True,
        )
        f.write("\n")


if __name__ == "__main__":
    raise SystemExit(main())
