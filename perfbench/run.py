#!/usr/bin/env python3
"""The repo's benchmark: seeded `battery` and `upsert` workloads
against the compiled engine. See perfbench/README.md.

One workload, one run (the form the metric contract uses):

    python3 perfbench/run.py --workload upsert --seed 1 --seconds 25 --trace 0

prints the run's full record as one JSON line and then, as the last
line, {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1.

Every workload, untraced then traced (the one-command form):

    python3 perfbench/run.py [--seed 1] [--seconds 25]

prints one JSON document: workload -> metric -> {value, unit, samples},
the per-layer metrics, the tracing overhead and the run stamps.

Run from the root of a checkout. The first run builds the engine and
generates the tables under .bench_build/perfbench.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import gen_data  # noqa: E402
import inputs  # noqa: E402

STATE = os.path.join(ROOT, ".bench_build", "perfbench")
JVM_TIMEOUT_S = 165

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load_json(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def git_commit():
    """HEAD of the checkout when it is a git work tree, else "unknown"."""
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        ref = open(head).read().strip()
        if ref.startswith("ref: "):
            return open(os.path.join(ROOT, ".git", ref[5:])).read().strip()
        return ref
    except OSError:
        return "unknown"


def loadavg():
    try:
        return open("/proc/loadavg").read().strip()
    except OSError:
        return ""


def cpu_times():
    """(steal, total) jiffies of all CPUs from /proc/stat, or None."""
    try:
        fields = [int(x) for x in open("/proc/stat").readline().split()[1:]]
        return fields[7], sum(fields)
    except (OSError, ValueError, IndexError):
        return None


def steal_share(before, after):
    """Share of CPU time the hypervisor gave to other guests between two
    `cpu_times()` samples: a run that lost much of it was slowed by
    something outside the program."""
    if not before or not after or after[1] == before[1]:
        return None
    return (after[0] - before[0]) / (after[1] - before[1])


def upsert_traffic(c, seconds):
    """The upsert workload's traffic, derived from the measured drain
    capacity `capacity_rows_per_s` (see README.md, "Upsert traffic"):
    the live producer runs at `live_load_share` of it, the backlog is
    `drain_s` seconds of it, the warm-up is one second of live traffic,
    and the live phase takes what is left of the run after the drain."""
    rate = round(c["capacity_rows_per_s"] * c["live_load_share"])
    return {"rate": rate, "warmup_records": rate,
            "backlog": round(c["capacity_rows_per_s"] * c["drain_s"]),
            "live_seconds": max(1.0, seconds - c["drain_s"]),
            "keys": c["keys"], "zipf": c["zipf"], "readers": c["readers"]}


def make_plan(cfg, workload, seed, seconds, trace, run_dir, data_dir):
    plan = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": bool(trace),
        "cores": cfg["cores"], "data_dir": data_dir, "work_dir": os.path.join(run_dir, "work"),
        "span_file": os.path.join(run_dir, "spans.jsonl"),
    }
    expect = {}
    if workload == "battery":
        plan["queries"] = cfg["battery"]["queries"]
    elif workload == "upsert":
        reads, warmup = inputs.read_inputs(seed, cfg["upsert"]["read_pool"])
        plan.update(upsert_traffic(cfg["upsert"], seconds),
                    reads=[[r["template"], r["sql"]] for r in reads],
                    warmup=[r["sql"] for r in warmup])
        expect = reads
    return plan, expect


def jvm_cmd(cfg, tmp, classpath, main, *args):
    """A harness JVM: Spark's JDK 17 module openings, the configured
    heap, and every temporary file inside the checkout."""
    opens = [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [build.java(), *opens, f"-Xmx{cfg['xmx']}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-cp", classpath, main, *args]


def run_jvm(classpath, cfg, plan, run_dir):
    """Run the harness JVM on the compiled classpath; its log goes to a
    file so stdout stays a bare JSON stream. `run_dir` is emptied first:
    every run starts without the temporary files, index artifacts and
    checkpoints of an earlier one."""
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(plan["work_dir"])
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    plan_path = os.path.join(run_dir, "plan.json")
    out_path = os.path.join(run_dir, "outcome.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    launched = time.time_ns()
    cmd = jvm_cmd(cfg, tmp, classpath, "perfbench.Main", plan_path, out_path, str(launched))
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=ROOT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise RuntimeError(f"harness timed out after {JVM_TIMEOUT_S}s (see {run_dir}/jvm.log)")
        except BaseException:
            # interrupted or terminated: never leave the JVM behind
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
    if code != 0 or not os.path.exists(out_path):
        tail = open(os.path.join(run_dir, "jvm.log")).read()[-3000:]
        raise RuntimeError(f"harness exited with {code}:\n{tail}")
    with open(out_path) as f:
        return json.load(f)


def check_reads(outcome, expect, data_dir):
    """Every answered serving query must carry DuckDB's rows. (Status and
    `exceptions` are checked by the harness.)"""
    import duckdb
    con = duckdb.connect()
    for t in ["customer", "orders", "lineitem", "events", "nation"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    cache, wrong = {}, []
    for r in outcome["records"].pop("responses"):
        try:
            body = json.loads(r["body"])
        except ValueError:
            continue
        if r["code"] != 200 or body.get("exceptions"):
            continue
        req = expect[r["idx"]]
        if req["duck"] not in cache:
            cache[req["duck"]] = [list(x) for x in con.execute(req["duck"]).fetchall()]
        got = (body.get("resultTable") or {}).get("rows") or []
        if not inputs.rows_equal(got, cache[req["duck"]]):
            wrong.append(f"read {r['idx']} {req['template']}: got {got[:3]} "
                         f"want {cache[req['duck']][:3]}")
    return wrong


def check_battery(outcome):
    expected = load_json("expected.json")["hashes"]
    wrong = []
    for name, h in outcome["records"]["hashes"].items():
        if expected.get(name) != h:
            wrong.append(f"{name}: result hash {h}, expected {expected.get(name)}")
    return wrong


def run_once(cfg, workload, seed, seconds, trace):
    """Build, generate, run the harness and check its answers. Returns
    the run's full record."""
    classpath = build.build()
    data_dir = os.path.join(STATE, "data")
    gen_data.generate(data_dir)
    run_dir = os.path.join(STATE, "runs", f"{workload}-s{seed}-t{trace}")
    plan, expect = make_plan(cfg, workload, seed, seconds, trace, run_dir, data_dir)
    load0, cpu0 = loadavg(), cpu_times()
    outcome = run_jvm(classpath, cfg, plan, run_dir)
    if workload == "upsert":
        wrong = check_reads(outcome, expect, data_dir)
    else:
        wrong = check_battery(outcome)
    attempted = int(outcome["attempted"])
    failed = int(outcome["failed"]) + len(wrong)
    e2e = outcome["end_to_end"]
    e2e["fail_frac"] = {"value": failed / max(1, attempted), "unit": "ratio", "samples": attempted}
    return {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "failures": (outcome["failures"] + wrong)[:20],
        "end_to_end": e2e, "per_layer": outcome["per_layer"],
        "self_time": outcome["self_time"], "records": outcome["records"],
        "setup_parts_s": outcome["setup_parts_s"],
        "span_file": os.path.relpath(plan["span_file"], ROOT) if trace else None,
        "stamps": dict(outcome["stamps"], nproc=os.cpu_count(), git_commit=git_commit(),
                       seed=seed, heldout_seed=cfg["heldout_seed"],
                       loadavg_before=load0, loadavg_after=loadavg(),
                       cpu_steal_share=steal_share(cpu0, cpu_times())),
    }


def contract_line(record, bench):
    """The last stdout line: exactly the metrics BENCHMARK.json lists
    for the mode."""
    names = bench["per_layer"] if record["trace"] else bench["end_to_end"]
    source = record["per_layer"] if record["trace"] else record["end_to_end"]
    metrics = {}
    for m in names:
        got = source.get(m["name"])
        metrics[m["name"]] = {"value": got["value"] if got else 0.0, "unit": m["unit"]}
    return {"correct": record["correct"], "attempted": record["attempted"],
            "failed": record["failed"], "metrics": metrics}


def self_time_table(record):
    rows = sorted(record["self_time"].items(), key=lambda kv: -kv[1]["self_ms"])
    lines = [f"{'span':<28}{'count':>8}{'total ms':>12}{'self ms':>12}{'self/op ms':>14}"]
    units = max(1, record["records"].get("units", 1))
    for name, s in rows:
        lines.append(f"{name:<28}{s['count']:>8}{s['total_ms']:>12.1f}{s['self_ms']:>12.1f}"
                     f"{s['self_ms'] / units:>14.3f}")
    return "\n".join(lines)


def suite(cfg, bench, seed, seconds):
    doc = {"seed": seed, "seconds": seconds, "workloads": {}}
    for w in [x["name"] for x in bench["workloads"]]:
        plain = run_once(cfg, w, seed, seconds, 0)
        traced = run_once(cfg, w, seed, seconds, 1)
        overhead = {k: {"value": traced["end_to_end"][k]["value"] - v["value"], "unit": v["unit"]}
                    for k, v in plain["end_to_end"].items() if k in traced["end_to_end"]}
        table = self_time_table(traced)
        with open(os.path.join(STATE, "runs", f"{w}-s{seed}-t1", "self_time.txt"), "w") as f:
            f.write(table + "\n")
        log(f"{w}: self time per span (traced run)\n{table}")
        doc["workloads"][w] = {
            "metrics": plain["end_to_end"], "per_layer": traced["per_layer"],
            "trace_overhead": overhead, "self_time": traced["self_time"],
            "span_file": traced["span_file"], "records": plain["records"],
            "correct": plain["correct"] and traced["correct"],
            "failures": plain["failures"] + traced["failures"],
            "stamps": plain["stamps"], "traced_stamps": traced["stamps"]}
    print(json.dumps(doc))


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    try:
        bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
        cfg = load_json("config.json")
        seconds = args.seconds or bench["run_seconds"]
        if args.workload is None:
            suite(cfg, bench, args.seed, seconds)
            return 0
        if args.workload not in [w["name"] for w in bench["workloads"]]:
            raise RuntimeError(f"unknown workload {args.workload}")
        t0 = time.time()
        record = run_once(cfg, args.workload, args.seed, seconds, args.trace)
        record["wall_s"] = time.time() - t0
        if args.trace:
            log("self time per span\n" + self_time_table(record))
        for f in record["failures"]:
            log(f"FAILED {f}")
        print(json.dumps(record))
        print(json.dumps(contract_line(record, bench)))
        return 0
    except (build.BuildError, RuntimeError, OSError, ValueError, KeyError) as e:
        log(f"error: {e}")
        return 2


if __name__ == "__main__":
    sys.exit(main())
