#!/usr/bin/env python3
"""DuckDB cross-check for the reference MSE queries WITHOUT gold
outputs (the reference compares those against H2; this is the
analogous independent-engine comparison).

Usage: python3 tools/mse_duck.py /tmp/mse_duck

Reads the dump produced by `sbt "Test/runMain graft.tools.MseDuckDump"`:
fixture tables as parquet, the engine's result rows as JSON, and a
manifest with plain (non-facade-rewritten) SQL. Queries DuckDB cannot
parse (Pinot-specific functions/dialect) are counted as `skipped` —
only queries BOTH engines can run are compared, with the reference's
comparison discipline (1e-4 fuzzy doubles, multiset unless ordered).
"""
import json
import math
import os
import sys

import duckdb

EPS = 1e-4


def fuzzy(a, e):
    try:
        fa, fe = float(a), float(e)
    except (TypeError, ValueError):
        return False
    if fa == fe or abs(fa - fe) <= EPS:
        return True
    m = max(abs(fa), abs(fe))
    return m != 0 and abs(fa / m - fe / m) <= EPS


def canon_engine(cell):
    """Engine dump cells: tagged strings or plain JSON values."""
    if isinstance(cell, str):
        if cell.startswith("hex:"):
            return ("hex", cell[4:].lower())
        if cell.startswith("ts:"):
            return ("ts", int(cell[3:]))
        if cell.startswith("num:"):
            return ("num", cell[4:])
        if cell.startswith("arr:"):
            return ("arr", cell[4:])
        return ("str", cell)
    if isinstance(cell, bool):
        return ("bool", cell)
    if cell is None:
        return ("null", None)
    return ("numv", cell)


def canon_duck(cell):
    import datetime
    import decimal
    if cell is None:
        return ("null", None)
    if isinstance(cell, bool):
        return ("bool", cell)
    if isinstance(cell, (bytes, bytearray)):
        return ("hex", bytes(cell).hex())
    if isinstance(cell, datetime.datetime):
        return ("ts", int(cell.timestamp() * 1000))
    if isinstance(cell, decimal.Decimal):
        return ("numv", float(cell))
    if isinstance(cell, (list, tuple)):
        return ("arr", "|".join(str(x) for x in cell))
    if isinstance(cell, (int, float)):
        return ("numv", cell)
    return ("str", str(cell))


def cell_eq(a, d):
    ta, va = a
    td, vd = d
    if ta == "null" or td == "null":
        return ta == td
    if ta == "bool" or td == "bool":
        if ta == td:
            return va == vd
        return fuzzy(1 if va is True else 0 if va is False else va,
                     1 if vd is True else 0 if vd is False else vd)
    if ta in ("numv", "num") or td in ("numv", "num"):
        if ta == "str" or td == "str":
            return str(va) == str(vd) or fuzzy(va, vd)
        return fuzzy(va, vd)
    if ta == "ts" and td == "ts":
        return va == vd
    return str(va) == str(vd)


def row_eq(a, d):
    return len(a) == len(d) and all(cell_eq(x, y) for x, y in zip(a, d))


def compare(actual, expected, ordered):
    if len(actual) != len(expected):
        return f"row count {len(actual)} != {len(expected)}"
    if ordered:
        for i, (a, e) in enumerate(zip(actual, expected)):
            if not row_eq(a, e):
                return f"row {i}: {a} != {e}"
        return None
    remaining = list(actual)
    for e in expected:
        hit = next((i for i, a in enumerate(remaining) if row_eq(a, e)), -1)
        if hit < 0:
            return f"no match for {e}; e.g. remaining {remaining[:2]}"
        remaining.pop(hit)
    return None


def main(root):
    con = duckdb.connect()
    tdir = os.path.join(root, "tables")
    for t in os.listdir(tdir):
        con.execute(
            f'CREATE VIEW "{t}" AS SELECT * FROM read_parquet(\'{tdir}/{t}/*.parquet\')')
    manifest = json.load(open(os.path.join(root, "manifest.json")))
    n_pass = n_fail = n_skip = n_tie = n_col = 0
    failures = []
    n_subset = 0
    for q in manifest:
        rid, sql, ordered = q["id"], q["sql"], q["ordered"]
        rpath = os.path.join(root, "results", rid + ".json")
        if not os.path.exists(rpath):
            continue
        engine_rows = [[canon_engine(c) for c in row]
                       for row in json.load(open(rpath))]
        try:
            duck_rows = [[canon_duck(c) for c in row]
                         for row in con.execute(sql).fetchall()]
        except Exception:
            n_skip += 1  # DuckDB can't run this dialect/function
            continue
        if q.get("subset"):
            # selection-with-LIMIT discipline (the reference's
            # ClusterIntegrationTestUtils.testQuery): every engine row
            # must appear in the full (un-LIMITed) result, with
            # multiplicity
            remaining = list(duck_rows)
            missing = None
            for a in engine_rows:
                hit = next((i for i, d in enumerate(remaining)
                            if row_eq(a, d)), -1)
                if hit < 0:
                    missing = a
                    break
                remaining.pop(hit)
            if missing is None:
                n_subset += 1
            else:
                n_fail += 1
                failures.append((rid, sql[:160],
                                 f"subset miss: {missing}"))
            continue
        diff = compare(engine_rows, duck_rows, ordered)
        if diff is None:
            n_pass += 1
            continue
        # ORDER BY over non-unique keys: both engines emit valid orders
        # whose tied rows interleave differently -> value-compare as a
        # multiset (the reference's H2 comparator is also unordered
        # unless the test pins row order)
        if ordered and compare(engine_rows, duck_rows, False) is None:
            n_tie += 1
            continue
        # NATURAL JOIN output column ORDER is engine-specific (Spark
        # leads with the join columns); compare rows as cell multisets
        def rowset(rows):
            return sorted(sorted(map(repr, r)) for r in rows)
        if "NATURAL" in sql.upper() and rowset(engine_rows) == rowset(duck_rows):
            n_col += 1
            continue
        n_fail += 1
        failures.append((rid, sql[:160], diff[:240]))
    subset_note = f" subset-pass={n_subset}" if n_subset else ""
    print(f"cross-checked: pass={n_pass} tie-order-pass={n_tie} "
          f"colorder-pass={n_col}{subset_note} fail={n_fail} "
          f"duckdb-skip={n_skip}")
    for rid, sql, diff in failures[:40]:
        print(f"FAIL {rid}\n  sql: {sql}\n  {diff}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1] if len(sys.argv) > 1 else "/tmp/mse_duck"))
