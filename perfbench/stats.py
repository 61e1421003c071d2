"""Summary statistics of one benchmark run.

The JVM side (perfbench.Main) writes every op, pass and, in a traced run,
every span to a JSON file; this module turns that file into the
end-to-end metrics (untraced runs) and the per-layer metrics (traced
runs). Everything here is plain Python so that it can be tested without
a JVM (see test_stats.py).
"""

import math
import statistics

# Conventional percentiles, highest first. The tail reported is the highest
# of these with at least TAIL_BEYOND samples beyond it.
LADDER = (99, 95, 90, 85, 80, 75, 50)
TAIL_BEYOND = 10

IO_KEYS = ("csv", "parquet", "json", "csv_dir")

END_TO_END = (
    ("setup_s", "s"),
    ("wall_s", "s"),
)

PER_LAYER = (
    [("construct_s", "s"), ("construct_jobs", "count"),
     ("resolve_jobs", "count"), ("pin_jobs", "count"),
     ("pin_blocks", "count"), ("pin_mb", "MB"),
     ("analysis_ms", "ms"), ("optimization_ms", "ms"), ("planning_ms", "ms"),
     ("codegen_ms", "ms"), ("codegen_classes", "count"),
     ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
     ("failed_tasks", "count"), ("task_overhead_ms", "ms"), ("no_job_s", "s"),
     ("task_run_s", "s"), ("task_cpu_s", "s"), ("gc_s", "s"),
     ("slot_fill", "ratio"), ("shuffle_write_mb", "MB"),
     ("shuffle_read_mb", "MB"), ("spill_mb", "MB")]
    + [("write_s." + k, "s") for k in IO_KEYS]
    + [("read_s." + k, "s") for k in IO_KEYS]
    + [("sniff_s", "s")]
    + [("file_mb." + k, "MB") for k in IO_KEYS]
    + [("bytes_per_source_byte." + k, "ratio") for k in IO_KEYS]
    + [("staged_rows", "count"), ("published_rows", "count"),
       ("published_files", "count"), ("traced_wall_s", "s"),
       ("jvm_cpu_s", "s"), ("peak_rss_mb", "MB")]
    + [("split." + p, "s") for p in
       ("construction_s", "catalyst_s", "codegen_s", "scheduling_s",
        "executor_s")]
)


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p % of
    the samples at or below it."""
    xs = sorted(values)
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[k - 1]


def tail_percentile(n):
    """The highest LADDER percentile with at least TAIL_BEYOND of n samples
    beyond it, or None when even the median has fewer."""
    for p in LADDER:
        if n - max(1, math.ceil(p / 100.0 * n)) >= TAIL_BEYOND:
            return p
    return None


def tail(values):
    """(percentile, value) of the tail rule; with too few samples for any
    LADDER percentile the tail is the maximum, reported as p100."""
    p = tail_percentile(len(values))
    return (p, percentile(values, p)) if p else (100, max(values))


def spread(values):
    """Inter-quartile range over the median, as the acceptance check takes
    it: statistics.quantiles(values, n=4)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def union_length(intervals, lo=None, hi=None):
    """Total length covered by (start, end) intervals, optionally clipped
    to [lo, hi]."""
    xs = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            xs.append((s, e))
    xs.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in xs:
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
    """{span id: duration minus the part of it its child spans cover}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        if s["end_ms"] is None:
            continue
        covered = union_length(
            [(c["start_ms"], c["end_ms"]) for c in kids.get(s["id"], [])
             if c["end_ms"] is not None],
            s["start_ms"], s["end_ms"])
        out[s["id"]] = (s["end_ms"] - s["start_ms"]) - covered
    return out


def _timed_ops(run):
    return [o for o in run["ops"] if o["timed"]]


def end_to_end(run):
    """The end-to-end metrics, and the op latencies: the median, the
    highest LADDER percentile with TAIL_BEYOND samples beyond it, the
    slowest op (by its median over passes) and the sample count. A run
    holds 1 to 16 ops, too few for a latency percentile steady enough to
    bound, so the latencies go to the result file only."""
    ops = _timed_ops(run)
    totals = [o["total_s"] for o in ops]
    p, t = tail(totals)
    return {
        "setup_s": run["setup_s"],
        "wall_s": statistics.median(run["pass_walls_s"]),
    }, {"op_samples": len(totals), "op_p50_s": percentile(totals, 50),
        "op_tail_percentile": p, "op_tail_s": t,
        "op_max_s": max(v["total_s"] for v in per_op(run).values())}


def workload_metrics(run):
    """Per-workload figures for the result file: query latencies
    (catalog), docs per second (curate_release), MB per second
    (io_roundtrip) and the failed share of ops (all)."""
    ops = _timed_ops(run)
    failed = sum(1 for o in ops if not o["ok"])
    walls = run["pass_walls_s"]
    out = {"fail_ratio": failed / len(ops), "passes": len(walls)}
    w = run["workload"]
    totals = [o["total_s"] for o in ops]
    if w == "catalog":
        p, t = tail(totals)
        out.update({"query_p50_s": percentile(totals, 50),
                    "query_tail_s": t, "query_tail_percentile": p,
                    "queries": len(totals)})
    elif w == "curate_release":
        out["docs_per_s"] = run["info"]["docs"] / statistics.median(walls)
    elif w == "io_roundtrip":
        for kind in ("write", "read"):
            xs = [o for o in ops if o["name"].startswith(kind + ".")]
            out[kind + "_mb_per_s"] = (sum(o["file_bytes"] for o in xs) / 1e6
                                       / sum(o["total_s"] for o in xs))
    return out


def per_op(run):
    """Per-op map: medians over the timed passes, by op name."""
    by = {}
    for o in _timed_ops(run):
        by.setdefault(o["name"], []).append(o)
    out = {}
    for name, os_ in sorted(by.items()):
        out[name] = {
            "n": len(os_),
            "ok": all(o["ok"] for o in os_),
            "total_s": statistics.median(o["total_s"] for o in os_),
            "construct_s": statistics.median(o["construct_s"] for o in os_),
            "action_s": statistics.median(o["action_s"] for o in os_),
        }
        errors = sorted({o["error"] for o in os_ if o["error"]})
        if errors:
            out[name]["errors"] = errors
    return out


def _median_attr(ops, name, attr, default=0.0):
    xs = [o[attr] for o in ops if o["name"] == name and attr in o]
    return statistics.median(xs) if xs else default


def per_layer(run):
    """Per-layer metrics of a traced run, per timed pass, plus the split of
    the timed ops' wall time and the per-op layer map."""
    spans = run["spans"]
    by_id = {s["id"]: s for s in spans}
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    window = next(s for s in spans if s["kind"] == "window")
    passes = len(run["pass_walls_s"])
    cores = run["cores"]
    ops = [s for s in kids.get(window["id"], []) if s["kind"] == "op"]
    phase = {}  # construct/action span id -> "construct" | "action"
    for op in ops:
        for c in kids.get(op["id"], []):
            phase[c["id"]] = c["kind"]
    jobs = [s for s in spans if s["kind"] == "job" and s["parent"] in phase]
    stages = {}
    for s in spans:
        if s["kind"] == "stage":
            stages.setdefault(s["parent"], []).append(s)

    def job_stages(j):
        return stages.get(j["id"], [])

    def stage_sum(js, key):
        return sum(st[key] for j in js for st in job_stages(j))

    cjobs = [j for j in jobs if phase[j["parent"]] == "construct"]
    ajobs = [j for j in jobs if phase[j["parent"]] == "action"]
    resolve = [j for j in cjobs if j["name"].startswith("parquet at ")]

    spans_of = {"construct": [], "action": []}
    for sid, kind in phase.items():
        spans_of[kind].append(by_id[sid])

    def in_spans(t, ss):
        return any(s["start_ms"] <= t <= s["end_ms"] for s in ss)

    execs = [e for e in run["executions"]
             if in_spans(e["start_ms"], spans_of["construct"] +
                         spans_of["action"])]
    aexecs = [e for e in execs if in_spans(e["start_ms"], spans_of["action"])]

    def dur(ss):
        return sum(s["end_ms"] - s["start_ms"] for s in ss) / 1e3

    codegen_ns = sum(s.get("codegen_ns", 0)
                     for s in spans_of["construct"] + spans_of["action"])
    run_ms = stage_sum(jobs, "run_ms")
    job_union = union_length([(j["start_ms"], j["end_ms"]) for j in jobs],
                             window["start_ms"], window["end_ms"]) / 1e3
    window_s = (window["end_ms"] - window["start_ms"]) / 1e3

    m = {
        "construct_s": dur(spans_of["construct"]),
        "construct_jobs": len(cjobs),
        "resolve_jobs": len(resolve),
        "pin_jobs": len(cjobs) - len(resolve),
        "pin_blocks": run["rdd_blocks"],
        "pin_mb": run["rdd_mb"],
        "analysis_ms": sum(e["analysis_ms"] for e in execs),
        "optimization_ms": sum(e["optimization_ms"] for e in execs),
        "planning_ms": sum(e["planning_ms"] for e in execs),
        "codegen_ms": codegen_ns / 1e6,
        "codegen_classes": sum(s.get("codegen_classes", 0) for s in
                               spans_of["construct"] + spans_of["action"]),
        "jobs": len(jobs),
        "stages": sum(len(job_stages(j)) for j in jobs),
        "tasks": stage_sum(jobs, "tasks"),
        "failed_tasks": stage_sum(jobs, "failed_tasks"),
        "task_overhead_ms": stage_sum(jobs, "task_ms") - run_ms,
        "no_job_s": window_s - job_union,
        "task_run_s": run_ms / 1e3,
        "task_cpu_s": stage_sum(jobs, "cpu_ns") / 1e9,
        "gc_s": stage_sum(jobs, "gc_ms") / 1e3,
        "shuffle_write_mb": stage_sum(jobs, "shuffle_write_bytes") / 1e6,
        "shuffle_read_mb": stage_sum(jobs, "shuffle_read_bytes") / 1e6,
        "spill_mb": stage_sum(jobs, "spill_bytes") / 1e6,
    }
    # totals over the window -> per pass; slot_fill is already a ratio
    m = {k: v / passes for k, v in m.items()}
    m["slot_fill"] = (run_ms / 1e3) / (window_s * cores)

    # split of the timed ops' wall time into layers (per pass)
    action_s = dur(spans_of["action"])
    catalyst_s = sum(e["analysis_ms"] + e["optimization_ms"] +
                     e["planning_ms"] for e in aexecs) / 1e3
    a_codegen_s = sum(s.get("codegen_ns", 0)
                      for s in spans_of["action"]) / 1e9
    executor_s = stage_sum(ajobs, "run_ms") / 1e3 / cores
    a_job_union = sum(union_length(
        [(j["start_ms"], j["end_ms"]) for j in ajobs if j["parent"] == s["id"]],
        s["start_ms"], s["end_ms"]) for s in spans_of["action"]) / 1e3
    split = {
        "construction_s": m["construct_s"],
        "catalyst_s": catalyst_s / passes,
        "codegen_s": a_codegen_s / passes,
        "executor_s": executor_s / passes,
        "scheduling_s": (action_s - catalyst_s - a_codegen_s
                         - executor_s) / passes,
    }
    for k, v in split.items():
        m["split." + k] = v
    wall = statistics.median(run["pass_walls_s"])
    # self time by span kind, per pass: e.g. construct self time is
    # driver-side construction work that ran no job
    st = self_times(spans)
    timed = set()
    frontier = [window["id"]]
    while frontier:
        sid = frontier.pop()
        for c in kids.get(sid, []):
            timed.add(c["id"])
            frontier.append(c["id"])
    self_by_kind = {}
    for sid in timed:
        k = by_id[sid]["kind"]
        self_by_kind[k] = self_by_kind.get(k, 0.0) + st.get(sid, 0.0) / 1e3
    detail = {
        "self_s_by_kind": {k: v / passes
                           for k, v in sorted(self_by_kind.items())},
        "split_sum_over_wall": sum(split.values()) / wall,
        "scheduling_in_jobs_s": (a_job_union - executor_s) / passes,
        "scheduling_between_jobs_s":
            (action_s - a_job_union - catalyst_s - a_codegen_s) / passes,
        "jobs_by_call_site": _count_by(j["name"] for j in jobs),
        "construct_jobs_by_call_site": _count_by(j["name"] for j in cjobs),
    }

    # QuackIO and Pipelines layers, from what the ops recorded
    tops = _timed_ops(run)
    for k in IO_KEYS:
        m["write_s." + k] = _median_attr(tops, "write." + k, "total_s")
        m["read_s." + k] = _median_attr(tops, "read." + k, "total_s")
        fb = _median_attr(tops, "write." + k, "file_bytes")
        sb = _median_attr(tops, "write." + k, "source_bytes")
        m["file_mb." + k] = fb / 1e6
        m["bytes_per_source_byte." + k] = fb / sb if sb else 0.0
    m["sniff_s"] = _median_attr(tops, "read.csv", "construct_s")
    for k in ("staged_rows", "published_rows", "published_files"):
        m[k] = _median_attr(tops, "releaseCorpus", k)
    m["traced_wall_s"] = wall
    m["jvm_cpu_s"] = statistics.median(run["pass_cpu_s"])
    m["peak_rss_mb"] = run["peak_rss_mb"]

    # per-op layer map
    layer_by_op = {}
    for op in ops:
        rec = layer_by_op.setdefault(op["name"], {
            "n": 0, "construct_jobs": 0, "action_jobs": 0,
            "codegen_ms": 0.0, "catalyst_ms": 0.0, "task_run_s": 0.0})
        rec["n"] += 1
        for c in kids.get(op["id"], []):
            cj = [j for j in jobs if j["parent"] == c["id"]]
            rec[c["kind"] + "_jobs"] += len(cj)
            rec["codegen_ms"] += c.get("codegen_ns", 0) / 1e6
            rec["task_run_s"] += stage_sum(cj, "run_ms") / 1e3
            rec["catalyst_ms"] += sum(
                e["analysis_ms"] + e["optimization_ms"] + e["planning_ms"]
                for e in execs if c["start_ms"] <= e["start_ms"] <= c["end_ms"])
    for rec in layer_by_op.values():
        n = rec.pop("n")
        for k in rec:
            rec[k] /= n
    return m, detail, layer_by_op


def _count_by(xs):
    out = {}
    for x in xs:
        out[x] = out.get(x, 0) + 1
    return dict(sorted(out.items(), key=lambda kv: -kv[1]))
