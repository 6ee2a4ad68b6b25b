"""Turns one run's raw records into the benchmark's metrics.

The JVM side (perfbench/src) writes ``result.json`` and, for a traced run,
``spans.jsonl``, ``tasks.jsonl`` and ``jobs.jsonl``; this module reduces them.
Pure functions over plain data, so the tests can drive them directly.
"""

import statistics

CORES = 4

# Spans the benchmark records around calls into the program's modules.
SPANS = [
    "derive",
    "pagerank.prep", "pagerank.superstep",
    "cc.prep", "cc.superstep",
    "lpa.prep", "lpa.superstep",
    "triangles", "kcores", "sssp", "msf",
    "frap.wl", "frap.learn", "frap.monitor",
    "cf.svdpp_train", "cf.predict",
    "sink",
]
SPAN_FIELDS = [
    ("self_s", "s"), ("jobs", "count"), ("core_idle_frac", "fraction"),
    ("shuffle_write_mb", "MB"), ("spill_mb", "MB"), ("task_skew", "ratio"),
]
EXTRAS = [
    ("pagerank.eps", "edges/s"),
    ("pagerank.superstep.rounds", "count"),
    ("pagerank.superstep.median_round_s", "s"),
    ("cc.superstep.rounds", "count"),
    ("cc.superstep.active_frac", "fraction"),
    ("lpa.superstep.median_round_s", "s"),
    ("frap.monitor.graphs_per_s", "1/s"),
    ("cf.svdpp_train.sweep_s", "s"),
    ("jvm.peak_rss_mb", "MB"),
    ("spark.gc_s", "s"),
    ("spark.failed_tasks", "count"),
    ("trace.overhead_frac", "fraction"),
    ("linkgraph.speedup_1to4", "ratio"),
]
END_TO_END = [("job_s", "s"), ("setup_s", "s"), ("alloc_mb", "MB")]


def per_layer_names():
    """Every per-layer metric name with its unit, in a fixed order."""
    return [(f"{s}.{f}", u) for s in SPANS for f, u in SPAN_FIELDS] + EXTRAS


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quartile_spread(xs):
    """(Q3 - Q1) / median, quartiles as statistics.quantiles(n=4) gives them."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / q2


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_start, cur_end = 0, None, None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans):
    """Span id -> seconds of its interval that none of its children cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ns"], s["end_ns"]))
    out = {}
    for s in spans:
        start, end = s["start_ns"], s["end_ns"]
        clipped = [(max(a, start), min(b, end))
                   for a, b in children.get(s["id"], []) if b > start and a < end]
        out[s["id"]] = (end - start - union_length(clipped)) / 1e9
    return out


def task_skew(tasks):
    """Per stage max/median task time, weighted by the stage's task time."""
    by_stage = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["dur_ms"])
    weighted, weight = 0.0, 0.0
    for durs in by_stage.values():
        w = sum(durs)
        weighted += w * max(durs) / max(statistics.median(durs), 1.0)
        weight += w
    return weighted / weight if weight else 0.0


def layer_metrics(result, spans, tasks, jobs):
    """Per-layer metrics of a traced run, from its traced repetition."""
    reps = result["reps"]
    traced = [r for r in reps if r["traced"]]
    if not traced:  # the traced repetition failed; its checks say why
        return {name: 0.0 for name, _ in per_layer_names() + [("coverage", "")]}
    r = traced[0]
    k = r["rep"]
    spans = [s for s in spans if s["rep"] == k]
    tasks = [t for t in tasks if t["rep"] == k]
    selfs = self_times(spans)
    out = {}
    for name in SPANS:
        ids = {s["id"] for s in spans if s["name"] == name}
        ts = [t for t in tasks if t["span"] in ids]
        self_s = sum(selfs[i] for i in ids)
        busy = sum(t["run_ms"] for t in ts) / 1e3
        out[f"{name}.self_s"] = self_s
        out[f"{name}.jobs"] = sum(1 for j in jobs if j["rep"] == k and j["span"] in ids)
        out[f"{name}.core_idle_frac"] = 1 - busy / (self_s * CORES) if self_s else 0.0
        out[f"{name}.shuffle_write_mb"] = sum(t["shuffle_write_b"] for t in ts) / 1e6
        out[f"{name}.spill_mb"] = sum(t["spill_b"] for t in ts) / 1e6
        out[f"{name}.task_skew"] = task_skew(ts)
    st = r["stats"]
    for name, key in [("pagerank.eps", "pagerank.eps"),
                      ("pagerank.superstep.rounds", "pagerank.rounds"),
                      ("pagerank.superstep.median_round_s", "pagerank.median_round_s"),
                      ("cc.superstep.rounds", "cc.rounds"),
                      ("cc.superstep.active_frac", "cc.active_frac"),
                      ("lpa.superstep.median_round_s", "lpa.median_round_s"),
                      ("frap.monitor.graphs_per_s", "frap.monitor.graphs_per_s"),
                      ("cf.svdpp_train.sweep_s", "cf.svdpp_train.sweep_s")]:
        out[name] = st.get(key, 0.0)
    out["jvm.peak_rss_mb"] = result["peak_rss_mb"]
    out["spark.gc_s"] = sum(t["gc_ms"] for t in tasks) / 1e3
    out["spark.failed_tasks"] = sum(1 for t in tasks if t["failed"])
    out["trace.overhead_frac"] = result["trace_cost_s"] / r["job_s"]
    warm = {o["kind"]: o["job_s"] for o in reps if o["kind"] in ("warm", "one_core")}
    out["linkgraph.speedup_1to4"] = (warm["one_core"] / warm["warm"]
                                     if len(warm) == 2 else 0.0)
    root = sum((s["end_ns"] - s["start_ns"]) / 1e9 for s in spans if s["parent"] == -1)
    out["coverage"] = sum(out[f"{n}.self_s"] for n in SPANS) / root
    return out


def end_to_end(result):
    """End-to-end metrics of an untraced run, from its one cold repetition."""
    timed, = [r for r in result["reps"] if r["kind"] == "timed"]
    return {
        "job_s": timed["job_s"],
        "setup_s": result["jvm_start_s"] + result["session_s"] + median(result["gen_s"]),
        "alloc_mb": timed["alloc_mb"],
    }
