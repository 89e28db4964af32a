#!/usr/bin/env python3
"""Produces perfbench/expected.json, the battery's expected result hashes.

Runs every query of the battery list (perfbench/config.json) twice on
the benchmark tables (harness class `perfbench.Expect`), keeps the
queries whose result hash is stable, and cross-checks each
SQL-expressible one against DuckDB the way tools/check.py
canonicalizes: columns sorted by name, rows sorted by their repr, cells
compared by repr. Only queries that pass get an expected hash. Re-run
after changing the list, or after a change meant to alter results.

Usage: python3 perfbench/expect.py   (from the root of a checkout)
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen_data  # noqa: E402
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    """tools/check.py's canonical form of a result frame."""
    import numpy as np
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if isinstance(v, (list, tuple, np.ndarray)):
            return tuple(cell(x) for x in v)
        if isinstance(v, np.generic):
            return v.item()
        return v
    out = df.apply(lambda s: s.map(cell))
    return out.sort_values(by=list(out.columns), key=lambda s: s.map(repr)).reset_index(drop=True)


def oracle_agrees(con, sql, parquet_dir):
    import pandas as pd
    got, want = canon(pd.read_parquet(parquet_dir)), canon(con.execute(sql).df())
    return (list(got.columns) == list(want.columns) and len(got) == len(want)
            and got.map(repr).equals(want.map(repr)))


def main():
    import duckdb
    cfg = run.load_json("config.json")
    classpath = build.build()
    data_dir = os.path.join(run.STATE, "data")
    gen_data.generate(data_dir)
    out = os.path.join(run.STATE, "expect")
    shutil.rmtree(out, ignore_errors=True)  # no index artifacts from an earlier survey
    os.makedirs(out)
    work = os.path.join(out, "work")
    cmd = run.jvm_cmd(cfg, out, classpath, "perfbench.Expect", data_dir, out, work,
                      str(cfg["cores"]), *cfg["battery"]["queries"])
    with open(os.path.join(out, "jvm.log"), "w") as logf:
        subprocess.run(cmd, stdout=logf, stderr=subprocess.STDOUT, check=True, cwd=run.ROOT)
    survey = json.load(open(os.path.join(out, "expect.json")))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    hashes, ms, rejected = {}, {}, {}
    for name, q in sorted(survey["queries"].items()):
        if "error" in q:
            rejected[name] = "error: " + q["error"]
        elif not q["stable"]:
            rejected[name] = "result hash differs between two runs"
        elif q["oracle"] and not oracle_agrees(con, q["oracle"], os.path.join(out, name)):
            rejected[name] = "disagrees with the DuckDB oracle"
        else:
            hashes[name] = q["hash"]
            ms[name] = round(q["ms"], 1)
    doc = {"registry_size": survey["registry_size"],
           "oracle_checked": sorted(n for n in hashes if survey["queries"][n]["oracle"]),
           "hashes": hashes, "warm_ms": ms, "rejected": rejected}
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")
    missing = [n for n in cfg["battery"]["queries"] if n not in hashes]
    print(f"{len(hashes)} expected hashes, {len(rejected)} rejected; "
          f"battery queries without one: {missing}")
    return 1 if missing else 0


if __name__ == "__main__":
    sys.exit(main())
