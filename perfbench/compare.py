#!/usr/bin/env python3
"""Runs the benchmark repeatedly and judges the results.

    # ten runs per workload on one checkout, one line per run
    python3 perfbench/compare.py collect --out runs.jsonl --runs 10 [--workload W] [--checkout DIR]
    # median, quartiles and spread of every end-to-end metric
    python3 perfbench/compare.py spread runs.jsonl
    # ten alternating parent/change pairs (which side runs first alternates)
    python3 perfbench/compare.py pairs --parent DIR --change DIR --out pairs.jsonl --runs 10
    # one row per (end-to-end metric, workload): improved, no-worse, worse or unresolved
    python3 perfbench/compare.py judge pairs.jsonl

Every run gets its own seed (the run index plus `--seed-base`), and a
pair's two sides share it. Bounds and the better direction of each
metric come from BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from metrics import spread  # noqa: E402


def spec():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_once(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode or not lines:
        return {"correct": False, "error": (proc.stderr or proc.stdout)[-500:], "metrics": {}}
    return json.loads(lines[-1])


def emit(out, rec):
    with open(out, "a") as fh:
        fh.write(json.dumps(rec) + "\n")
    print(f"{rec.get('side', '')} {rec['workload']} seed {rec['seed']}: "
          + ("ok" if rec["correct"] else "NOT CORRECT"), flush=True)


def load(path):
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def values(recs, workload, metric):
    return [r["metrics"][metric]["value"] for r in recs
            if r["workload"] == workload and metric in r["metrics"]]


def judge_pair(parent, change, better, bound, failed=(0, 0)):
    """Verdict for one (metric, workload) from runs paired by index:
    worse when the change has more failed or incorrect runs than the
    parent (`failed` counts them, parent first), whatever its timings;
    improved when the change wins at least 9 of 10 pairs and the medians
    differ by more than the parent's inter-quartile range; unresolved
    when the parent's own spread is wider than the bound, unless every
    change run beats every parent run; worse when the change's median is
    worse than the parent's by more than the bound; else no-worse."""
    if failed[1] > failed[0]:
        return "worse"
    sign = 1 if better == "lower" else -1

    def gain(a, b):     # > 0 when b is better than a
        return sign * (a - b)

    wins = sum(1 for p, c in zip(parent, change) if gain(p, c) > 0)
    mp, mc = statistics.median(parent), statistics.median(change)
    q1, _, q3 = statistics.quantiles(parent, n=4)
    if wins >= 0.9 * len(parent) and gain(mp, mc) > q3 - q1:
        return "improved"
    if spread(parent) > bound and not all(gain(p, c) > 0 for p in parent for c in change):
        return "unresolved"
    if -gain(mp, mc) > bound * mp:
        return "worse"
    return "no-worse"


def cmd_collect(a):
    workloads = [a.workload] if a.workload else [w["name"] for w in spec()["workloads"]]
    for w in workloads:
        for i in range(a.runs):
            seed = a.seed_base + i
            rec = run_once(a.checkout, w, seed, a.seconds)
            emit(a.out, dict(rec, workload=w, seed=seed))


def cmd_pairs(a):
    workloads = [a.workload] if a.workload else [w["name"] for w in spec()["workloads"]]
    for w in workloads:
        for i in range(a.runs):
            seed = a.seed_base + i
            sides = [("parent", a.parent), ("change", a.change)]
            for side, checkout in (sides if i % 2 == 0 else sides[::-1]):
                rec = run_once(checkout, w, seed, a.seconds)
                emit(a.out, dict(rec, workload=w, seed=seed, side=side, pair=i))


def cmd_spread(a):
    s = spec()
    recs = load(a.results)
    bad = [r for r in recs if not r["correct"]]
    print(f"{len(recs)} runs, {len(bad)} not correct")
    summary = {}
    print(f"{'workload':12} {'metric':14} {'n':>3} {'median':>11} {'q1':>11} {'q3':>11} "
          f"{'spread':>7} {'bound':>6}")
    for w in s["workloads"]:
        for m in s["end_to_end"]:
            vs = values(recs, w["name"], m["name"])
            if len(vs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vs, n=4)
            summary.setdefault(w["name"], {})[m["name"]] = {
                "n": len(vs), "median": med, "q1": q1, "q3": q3, "spread": spread(vs),
                "bound": m["bound"], "values": vs}
            flag = "" if m["name"] == "setup_s" or spread(vs) <= m["bound"] / 3 else \
                (" > bound/3" if spread(vs) <= m["bound"] else " > BOUND")
            print(f"{w['name']:12} {m['name']:14} {len(vs):3} {med:11.5g} {q1:11.5g} "
                  f"{q3:11.5g} {spread(vs):7.3f} {m['bound']:6.2f}{flag}")
    if a.json:
        with open(a.json, "w") as fh:
            json.dump(summary, fh, indent=1)


def bad(rec):
    """A run that failed, gave a wrong result or failed an operation."""
    return not rec["correct"] or rec.get("failed", 0) > 0 or not rec["metrics"]


def cmd_judge(a):
    s = spec()
    recs = load(a.results)
    for w in s["workloads"]:
        mine = [r for r in recs if r["workload"] == w["name"] and "side" in r]
        failed = tuple(sum(1 for r in mine if r["side"] == side and bad(r))
                       for side in ("parent", "change"))
        if any(failed):
            print(f"{w['name']:12} failed or incorrect runs: parent {failed[0]}, "
                  f"change {failed[1]}")
        for m in s["end_to_end"]:
            pairs = {}
            for r in mine:
                if not bad(r):
                    pairs.setdefault(r["pair"], {})[r["side"]] = r["metrics"][m["name"]]["value"]
            full = [v for _, v in sorted(pairs.items()) if len(v) == 2]
            if len(full) < 4:
                verdict = "worse" if failed[1] > failed[0] else "unresolved"
                print(f"{w['name']:12} {m['name']:14} ({len(full)} pairs): {verdict}")
                continue
            verdict = judge_pair([v["parent"] for v in full], [v["change"] for v in full],
                                 m["better"], m["bound"], failed)
            mp = statistics.median(v["parent"] for v in full)
            mc = statistics.median(v["change"] for v in full)
            print(f"{w['name']:12} {m['name']:14} parent {mp:10.5g} change {mc:10.5g} "
                  f"({len(full)} pairs): {verdict}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    for name in ("collect", "pairs"):
        p = sub.add_parser(name)
        p.add_argument("--out", required=True)
        p.add_argument("--runs", type=int, default=10)
        p.add_argument("--workload")
        p.add_argument("--seed-base", type=int, default=101)
        p.add_argument("--seconds", type=float, default=spec()["run_seconds"])
        if name == "collect":
            p.add_argument("--checkout", default=".")
        else:
            p.add_argument("--parent", required=True)
            p.add_argument("--change", required=True)
    for name in ("spread", "judge"):
        sub.add_parser(name).add_argument("results")
    sub.choices["spread"].add_argument("--json", help="also write the summary here")
    a = ap.parse_args()
    {"collect": cmd_collect, "pairs": cmd_pairs, "spread": cmd_spread, "judge": cmd_judge}[a.cmd](a)


if __name__ == "__main__":
    main()
