#!/usr/bin/env python3
"""The soil-spark benchmark: one workload, one fresh JVM, one result.

    python3 perfbench/run.py --workload soilmap --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. It builds the program and the harness
from source into `.bench_build` (skipped when unchanged), then starts
one JVM on the lake in `perfbench/lake` that

1. sets up a session with the base tables cached
   (`graft.Bench.session` + a forced `graft.Tables.load` fill);
2. runs one cold pass over the workload's queries, then as many warm
   passes as fill `--seconds` on a quiet host (a closed loop with one
   client: each query starts when the previous one has finished; the
   seed permutes each pass);
3. writes every query's output once more, outside the timed window.

It then checks those outputs (`perfbench/check.py`) and prints one
line per metric, and as its last line one JSON object with `correct`,
`attempted`, `failed` and `metrics`. With `--trace 0` the metrics are
the end-to-end ones; with `--trace 1` they are the per-layer ones from
traced passes, and the spans go to `.bench_build/traces/`.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import check  # noqa: E402
import metrics  # noqa: E402
from workloads import WORKLOADS, module_of, warm_passes  # noqa: E402

# The benchmark's lake: a byte-for-byte copy of the project's sf0.01
# test lake (ten TPC-H-shaped parquet tables that the program reads as
# SSURGO-shaped ones), kept inside the benchmark so a run reads nothing
# outside its checkout. Read only.
LAKE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "lake")

JVM_DEADLINE_S = 165
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def run_jvm(cmd, env, log_path, timeout):
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                                start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGTERM)
            try:
                proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
            return None


def per_query(doc, settle):
    """Median wall and construction share per query over the traced warm
    passes after the settling ones."""
    rows = {}
    for p in metrics.warm_passes(doc)[settle:]:
        for q in p["queries"] if p["traced"] else []:
            rows.setdefault(q["name"], []).append(q)
    out = {}
    for name, qs in sorted(rows.items()):
        wall = metrics.median([(q["end_ms"] - q["start_ms"]) / 1e3 for q in qs])
        cons = metrics.median([(q["construct_end_ms"] - q["start_ms"]) / 1e3 for q in qs])
        out[name] = {"module": module_of(name), "wall_s": wall, "construct_s": cons,
                     "construct_frac": cons / wall if wall else 0.0}
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--queries", help="comma-separated query names to run instead of the "
                    "workload's own (for one-off probes; the workload names the output)")
    ap.add_argument("--record-hashes", action="store_true",
                    help="pin this run's result hashes in perfbench/expected_hashes.json")
    args = ap.parse_args()

    classpath = build.ensure(".")
    run_dir = os.path.abspath(os.path.join(
        build.BUILD, "runs", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    try:
        workload = WORKLOADS[args.workload]
        queries = args.queries.split(",") if args.queries else workload["queries"]
        cpus = min(4, len(os.sched_getaffinity(0)))
        out = os.path.join(run_dir, "harness.json")
        env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
        cmd = (["java"] + ADD_OPENS
               + ["-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
                  "-Dspark.sql.session.timeZone=UTC", "-cp", classpath, "perfbench.Harness",
                  out, LAKE, str(cpus), str(args.seed),
                  str(warm_passes(workload, args.seconds)),
                  str(args.trace), ",".join(queries)])
        log = os.path.join(build.BUILD, f"last-{args.workload}.log")
        code = run_jvm(cmd, env, log, JVM_DEADLINE_S)
        if code != 0 or not os.path.exists(out):
            sys.exit(f"harness {'timed out' if code is None else f'exited {code}'}; see {log}")
        with open(out) as fh:
            doc = json.load(fh)
        os.makedirs(os.path.join(build.BUILD, "docs"), exist_ok=True)
        shutil.copy(out, os.path.join(build.BUILD, "docs",
                                      f"{args.workload}-seed{args.seed}-trace{args.trace}.json"))
        results = check.check(doc, LAKE, record=args.record_hashes)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    timed = [q for p in doc["passes"] for q in p["queries"]]
    timed_failed = sum(1 for q in timed if q["error"])
    wrong = sum(1 for ok, _ in results.values() if not ok)
    attempted = len(timed) + len(results)
    failed = timed_failed + wrong
    for q in timed:
        if q["error"]:
            print(f"FAILED {q['name']}: {q['error']}")
    for name, (ok, detail) in sorted(results.items()):
        print(f"check {name}: {'ok' if ok else 'WRONG'} ({detail})")
    print(f"error_frac = {failed / attempted:.4f} ratio ({failed} of {attempted})")
    walls = ", ".join(f"{p['wall_s']:.2f}" for p in doc["passes"])
    for name in sorted({q["name"] for q in timed}):
        ts = [(q["end_ms"] - q["start_ms"]) / 1e3 for q in timed if q["name"] == name]
        print(f"query {name}: cold {ts[0]:.3f} s, warm median "
              f"{metrics.median(ts[1:]):.3f} s over {len(ts) - 1}")
    print(f"set-up {doc['setup']['s']:.2f} s; window {doc['window_s']:.2f} s, passes {walls} s; "
          f"check {doc['check_s']:.2f} s")
    if len(metrics.warm_passes(doc)) < workload["settle"] + 1 + args.trace:
        sys.exit("the window was cut before a warm pass was timed; see the passes above")

    if args.trace:
        values, spans = metrics.per_layer(doc, workload["settle"])
        breakdown = per_query(doc, workload["settle"])
        for name, row in breakdown.items():
            print(f"query {name}: wall {row['wall_s']:.3f} s, construction "
                  f"{row['construct_s']:.3f} s ({row['construct_frac']:.0%})")
        trace_dir = os.path.join(build.BUILD, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"), "w") as fh:
            json.dump({"workload": args.workload, "seed": args.seed, "per_layer": values,
                       "queries": breakdown, "spans": spans}, fh)
        units = {k: metrics.unit_of(k) for k in values}
    else:
        e2e, info = metrics.end_to_end(doc, workload["settle"])
        values = {k: v for k, (v, _) in e2e.items()}
        units = {k: u for k, (_, u) in e2e.items()}
        tail = metrics.tail_percentile(info["walls"])
        print(f"query samples n = {len(info['walls'])}; " + (
            f"p{tail[0]} = {tail[1]:.4f} s" if tail else
            "no percentile above the median has ten samples beyond it"))
    for k in sorted(values):
        print(f"{k} = {values[k]:.6g} {units[k]}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in sorted(values)}}))


if __name__ == "__main__":
    main()
