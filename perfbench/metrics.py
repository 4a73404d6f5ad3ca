"""Turns the harness's raw records into the benchmark's metrics.

Everything here is arithmetic on plain numbers and dicts, so
`perfbench/test_metrics.py` can check it on synthetic inputs.
Times in the raw records are epoch milliseconds; metrics are seconds.
"""
import math
import statistics

from workloads import MODULE_NAMES, module_of

KERNELS = ["cosine_sim", "rolling_hash", "point_in_polygon", "nfc_normalize", "stopword_hits"]


# ---- statistics ------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail_percentile(samples, beyond=10, candidates=(99, 95, 90, 75, 50)):
    """The highest candidate percentile with at least `beyond` samples
    above it, as (percentile, value) by the nearest-rank rule; None when
    even the median has fewer than `beyond` samples above it."""
    xs = sorted(samples)
    n = len(xs)
    for p in candidates:
        rank = max(1, math.ceil(p / 100 * n))
        if n - rank >= beyond:
            return p, xs[rank - 1]
    return None


def spread(values):
    """Inter-quartile range as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


# ---- intervals and spans ---------------------------------------------

def union_length(intervals, lo=None, hi=None):
    """Length of the union of (start, end) intervals, clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time of each span: its duration minus the union of its
    children's intervals within it. `spans` is a list of dicts with id,
    parent, start and end; returns {id: self time}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_length(kids.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def driver_idle(start, end, job_intervals):
    """Part of [start, end] during which no job of the query ran."""
    return (end - start) - union_length(job_intervals, start, end)


# ---- end-to-end metrics ----------------------------------------------

def warm_passes(doc, traced=None):
    return [p for p in doc["passes"] if not p["cold"]
            and (traced is None or p["traced"] == traced)]


def end_to_end(doc, settle):
    """Metrics a user of the program sees, from an untraced run; the
    timings leave out the first `settle` warm passes."""
    warm = warm_passes(doc)[settle:]
    walls = [(q["end_ms"] - q["start_ms"]) / 1e3 for p in warm for q in p["queries"]]
    return {
        "setup_s": (doc["setup"]["s"], "s"),
        "pass_s": (median([p["wall_s"] for p in warm]), "s"),
        "query_p50_s": (median(walls), "s"),
        "task_cpu_s": (median([p["task_cpu_s"] for p in warm]), "s"),
        "heap_used_mb": (doc["heap_used_mb"], "MB"),
    }, {"walls": walls}


# ---- per-layer metrics -----------------------------------------------

def spans_of(doc):
    """The traced passes as spans: run > pass > query > construct/exec >
    catalyst phase/job > stage. Every span of a query carries its id."""
    spans = []
    traced = [p for p in doc["passes"] if p["traced"]]
    if not traced:
        return spans
    spans.append({"id": "run", "parent": None, "query": None, "kind": "run",
                  "start": min(p["start_ms"] for p in traced),
                  "end": max(p["end_ms"] for p in traced)})
    phase_parent = []
    for p in traced:
        pid = f"p{p['index']}"
        spans.append({"id": pid, "parent": "run", "query": None, "kind": "pass",
                      "start": p["start_ms"], "end": p["end_ms"]})
        for q in p["queries"]:
            qid = f"{pid}/{q['name']}"
            spans.append({"id": qid, "parent": pid, "query": qid, "kind": "query",
                          "start": q["start_ms"], "end": q["end_ms"]})
            for kind, s, e in (("construct", q["start_ms"], q["construct_end_ms"]),
                               ("exec", q["construct_end_ms"], q["end_ms"])):
                spans.append({"id": f"{qid}/{kind}", "parent": qid, "query": qid,
                              "kind": kind, "start": s, "end": e})
                phase_parent.append((s, e, f"{qid}/{kind}", qid))
            if q.get("analysis"):
                spans.append({"id": f"{qid}/construct/analysis", "parent": f"{qid}/construct",
                              "query": qid, "kind": "catalyst.analysis",
                              "start": q["analysis"]["start_ms"], "end": q["analysis"]["end_ms"]})
    for i, pl in enumerate(doc["plannings"]):
        for name, ph in pl["phases"].items():
            owner = next((o for o in phase_parent if o[0] <= ph["start_ms"] < o[1]), None)
            if owner:
                spans.append({"id": f"{owner[2]}/{name}#{i}", "parent": owner[2],
                              "query": owner[3], "kind": f"catalyst.{name}",
                              "start": ph["start_ms"], "end": ph["end_ms"]})
    query_of = {o[2]: o[3] for o in phase_parent}
    job_query = {}
    for j in doc["jobs"]:
        if j.get("parent") in query_of and "end_ms" in j:
            job_query[j["job"]] = query_of[j["parent"]]
            spans.append({"id": f"job{j['job']}", "parent": j["parent"],
                          "query": job_query[j["job"]], "kind": "job",
                          "start": j["start_ms"], "end": j["end_ms"]})
    for st in doc["stages"]:
        if st.get("job") in job_query and "start_ms" in st and "end_ms" in st:
            spans.append(dict({k: v for k, v in st.items() if k not in ("start_ms", "end_ms")},
                              id=f"stage{st['stage']}", parent=f"job{st['job']}",
                              query=job_query[st["job"]], kind="stage",
                              start=st["start_ms"], end=st["end_ms"]))
    selfs = self_times(spans)
    for s in spans:
        s["self_ms"] = selfs[s["id"]]
    return spans


def per_pass(doc, spans, p):
    """Per-layer sums over one traced pass."""
    pid = f"p{p['index']}"
    mine = [s for s in spans if s["query"] and s["query"].startswith(pid + "/")]
    jobs = [s for s in mine if s["kind"] == "job"]
    stages = [s for s in mine if s["kind"] == "stage"]
    exec_jobs = {s["id"] for s in jobs if s["parent"].endswith("/exec")}
    exec_stages = [s for s in stages if s["parent"] in exec_jobs]
    m = {}
    for mod in MODULE_NAMES:
        qs = [q for q in p["queries"] if module_of(q["name"]) == mod]
        m[f"{mod}.construct_s"] = sum(q["construct_end_ms"] - q["start_ms"] for q in qs) / 1e3
        ids = {f"{pid}/{q['name']}/construct" for q in qs}
        m[f"{mod}.construct_jobs"] = sum(1 for j in jobs if j["parent"] in ids)
    # The query's analysis runs while it is built; its optimization and
    # planning run in the final write.
    m["catalyst.analysis_s"] = sum(s["end"] - s["start"] for s in mine
                                   if s["id"].endswith("/construct/analysis")) / 1e3
    for ph in ("optimization", "planning"):
        m[f"catalyst.{ph}_s"] = sum(s["end"] - s["start"] for s in mine
                                    if s["kind"] == f"catalyst.{ph}"
                                    and s["parent"].endswith("/exec")) / 1e3
    exec_s = sum(q["end_ms"] - q["construct_end_ms"] for q in p["queries"]) / 1e3
    m["exec.s"] = exec_s
    m["exec.jobs"] = len(exec_jobs)
    m["exec.stages"] = len(exec_stages)
    for k in ("tasks", "task_busy_s", "cpu_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb",
              "spill_mb", "fetch_wait_s"):
        m[f"exec.{k}"] = sum(s.get(k, 0.0) for s in exec_stages)
    m["exec.core_util"] = m["exec.task_busy_s"] / (exec_s * doc["slots"]) if exec_s else 0.0
    m["construct.output_mb"] = sum(s.get("output_mb", 0.0) for s in stages
                                   if s["parent"] not in exec_jobs)
    idle = 0.0
    for q in p["queries"]:
        qid = f"{pid}/{q['name']}"
        idle += driver_idle(q["start_ms"], q["end_ms"],
                            [(j["start"], j["end"]) for j in jobs if j["query"] == qid])
    m["driver.idle_s"] = idle / 1e3
    m["driver.idle_frac"] = idle / 1e3 / p["wall_s"]
    m["driver.construct_frac"] = sum(m[f"{mod}.construct_s"] for mod in MODULE_NAMES) / p["wall_s"]
    m["driver.jobs_per_query"] = len(jobs) / len(p["queries"])
    runs = [s for s in doc["streams"] if "start_ms" in s
            and p["start_ms"] <= s["start_ms"] <= p["end_ms"]]
    batch_s = sum(b["s"] for s in runs for b in s["batches"])
    m["streaming.batches"] = sum(len(s["batches"]) for s in runs)
    m["streaming.batch_s"] = batch_s
    m["streaming.lifecycle_s"] = sum((s.get("end_ms", s["start_ms"]) - s["start_ms"]) / 1e3
                                     for s in runs) - batch_s
    queries = [(o["start"], o["end"]) for o in mine if o["kind"] == "query"]
    rules = [pl["depth_overlap"] for pl in doc["plannings"]
             if pl.get("depth_overlap") and pl["phases"]
             and any(s <= min(ph["start_ms"] for ph in pl["phases"].values()) < e
                     for s, e in queries)]
    m["plans.depth_overlap_s"] = sum(r["time_s"] for r in rules)
    inv = sum(r["invocations"] for r in rules)
    m["plans.depth_overlap_effective_frac"] = (sum(r["effective"] for r in rules) / inv
                                               if inv else 0.0)
    m["session.gc_s"] = p["gc_s"]
    m["session.codegen_classes_warm"] = p["codegen_classes"]
    return m


def tracing_overhead(passes):
    """Median over the traced passes of their wall against the mean of
    their untraced neighbours, minus one. Comparing neighbours cancels
    the drift of pass times over a run (JIT still settling)."""
    ratios = []
    for i, p in enumerate(passes):
        near = [q["wall_s"] for q in passes[max(0, i - 1):i + 2] if not q["traced"]]
        if p["traced"] and near:
            ratios.append(p["wall_s"] / (sum(near) / len(near)) - 1)
    return median(ratios)


def per_layer(doc, settle):
    """Per-layer metrics of a traced run: medians over its traced warm
    passes after the first `settle` warm passes, set-up and cold-pass
    counters, and the kernel probe."""
    spans = spans_of(doc)
    settled = warm_passes(doc)[settle:]
    traced = [p for p in settled if p["traced"]]
    rows = [per_pass(doc, spans, p) for p in traced]
    m = {k: median([r[k] for r in rows]) for k in rows[0]}
    cold = doc["passes"][0]
    m["session.build_s"] = doc["setup"]["session_s"]
    m["session.jit_s"] = cold["jit_s"]
    m["session.codegen_compile_s"] = cold["codegen_compile_s"]
    m["session.codegen_classes"] = cold["codegen_classes"]
    m["session.cold_pass_s"] = cold["wall_s"]
    m["tables.fill_s"] = doc["setup"]["fill_s"]
    m["tables.read_mb"] = doc["setup"]["fill_input_mb"]
    m["tables.cached_partitions"] = doc["tables"]["cached_partitions"]
    m["tables.cached_mb"] = doc["tables"]["cached_mb"]
    for k in KERNELS:
        for mode in ("codegen", "interp"):
            m[f"kernels.{k}.rows_per_s_{mode}"] = doc["kernels"].get(f"{k}.rows_per_s_{mode}", 0.0)
    m["trace.overhead_frac"] = tracing_overhead(settled)
    return m, spans


UNITS = {"_s": "s", ".s": "s", "_mb": "MB", "_frac": "ratio", "_util": "ratio", "_per_s_codegen": "rows/s",
         "_per_s_interp": "rows/s"}


def unit_of(name):
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"
