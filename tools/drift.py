#!/usr/bin/env python3
"""Bench drift gate (PLANS.md round-8 rule): compare two FULL bench
snapshots and list every carried-over query that regressed by BOTH
>1.3x and >0.15 s. Each listed query owes a solo `Probe ab`
adjudication row in PLANS.md within the round
(`sbt "Test/runMain graft.Probe ab <reps> <query>"`, vs the prior
snapshot).

Round-14 fix: the r13 verdict found the old tail-scrape blind — the
driver's BENCH_r{N}.json keeps only a TRUNCATED tail of the stdout
line (66 of 236 queries survive), so two real ANN flags passed unseen.
Sources are now, in order of preference:
  1. a git ref spec `<commit>:<path>` (e.g. `03ccbac:BENCH_LOCAL.json`)
     — the committed full snapshot of a prior round;
  2. a plain file with a full `queries` map (BENCH_LOCAL.json);
  3. a driver BENCH_r{N}.json: use its `parsed.queries` map if present,
     else REFUSE the tail-scrape unless --allow-tail is given (a
     partial compare silently passes the queries it cannot see).

Usage:
  python3 tools/drift.py <prev> <cur> [--allow-tail]
  python3 tools/drift.py 03ccbac:BENCH_LOCAL.json BENCH_LOCAL.json
"""
import json
import re
import subprocess
import sys


def load(src):
    """Return (dict, is_tail_scrape)."""
    if ":" in src and not src.startswith("/") and not src[1:3] == ":\\":
        ref, path = src.split(":", 1)
        txt = subprocess.run(["git", "show", f"{ref}:{path}"],
                             capture_output=True, text=True, check=True).stdout
        d = json.loads(txt)
    else:
        d = json.load(open(src))
    qs = d.get("queries")
    if isinstance(qs, dict) and qs:
        return {k: float(v) for k, v in qs.items()}, False
    blob = d.get("parsed") or {}
    qs = blob.get("queries") if isinstance(blob, dict) else None
    if qs:
        return {k: float(v) for k, v in qs.items()}, False
    # last resort: scrape "q_name":seconds pairs from a truncated tail
    return ({m.group(1): float(m.group(2)) for m in
             re.finditer(r'"(q_\w+)":(\d+\.\d+)', d.get("tail", ""))}, True)


def main():
    args = [a for a in sys.argv[1:] if a != "--allow-tail"]
    allow_tail = "--allow-tail" in sys.argv
    (prev, ptail), (cur, ctail) = load(args[0]), load(args[1])
    if (ptail or ctail) and not allow_tail:
        which = [s for s, t in [(args[0], ptail), (args[1], ctail)] if t]
        print(f"REFUSING tail-scrape compare ({', '.join(which)} has no "
              f"full queries map — only the truncated stdout tail).")
        print("Point at a committed full snapshot instead, e.g. "
              "`<round-commit>:BENCH_LOCAL.json`, or pass --allow-tail "
              "to accept a partial compare.")
        return 2
    common = sorted(set(prev) & set(cur))
    flagged = []
    for q in common:
        a, b = prev[q], cur[q]
        if b > a * 1.3 and b - a > 0.15:
            flagged.append((q, a, b, b / a))
    print(f"common queries compared: {len(common)} "
          f"(prev {len(prev)}, cur {len(cur)})")
    if not flagged:
        print("no drift over the 1.3x-and-0.15s bar")
        return 0
    print(f"{len(flagged)} queries owe a DriftAb row:")
    for q, a, b, r in sorted(flagged, key=lambda t: -t[3]):
        print(f"  {q}: {a:.3f}s -> {b:.3f}s ({r:.2f}x)")
    return 1


if __name__ == "__main__":
    sys.exit(main())
