"""Turns the benchmark JVM's raw record into the named metrics.

The JVM only times and counts; every statistic is computed here, where
test_stats.py checks it. `end_to_end` and `per_layer` below are the
benchmark's metric definitions; BENCHMARK.json repeats their names and
units (test_stats.py checks the two agree).
"""

import math
import statistics

OPERATOR_MODULES = [
    "Scans", "Filters", "Joins", "Graph", "Aggregations", "SetOps", "Windows",
    "Scalars", "TimeSeries", "LlmDedup", "LlmVector", "LlmText", "Multimodal",
    "Sources",
]

# (name, unit, better) of every end-to-end metric, all workloads.
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("op_p50_ms", "ms", "lower"),
    ("op_geomean_ms", "ms", "lower"),
    ("ops_per_s", "1/s", "higher"),
    ("peak_rss_mb", "MB", "lower"),
]

_SNAP = "sources.KvSnapshots."
_KV = "sources.KvConnector."

# (name, unit, better) of every per-layer metric, all workloads. A layer
# that does no work in a workload reports 0.
PER_LAYER = (
    [("phase.construct_ms", "ms", "lower"), ("phase.construct_jobs", "count", "lower"),
     ("phase.plan_ms", "ms", "lower"), ("phase.plan_exchanges", "count", "lower"),
     ("phase.execute_ms", "ms", "lower")]
    + [("exec." + n, u, "lower") for n, u in [
        ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
        ("task_cpu_s", "s"), ("task_gc_s", "s"), ("shuffle_read_mb", "MB"),
        ("shuffle_write_mb", "MB"), ("spill_mb", "MB"), ("task_skew", "ratio")]]
    + [(_SNAP + n, "ms", "lower") for n in [
        "create_ms", "create_incremental_ms", "verify_ms", "export_ms",
        "export_resume_ms", "restore_scan_ms", "diff_ms", "delete_ms"]]
    + [(_SNAP + "shared_file_ratio", "ratio", "higher"),
       (_SNAP + "files_per_snapshot", "count", "lower"),
       (_SNAP + "export_copied", "count", "lower"),
       (_SNAP + "export_skipped", "count", "higher"),
       (_SNAP + "bytes_written_per_user_byte", "ratio", "lower"),
       (_SNAP + "stored_bytes_per_user_byte", "ratio", "lower"),
       (_SNAP + "copy_mb_per_s", "MB/s", "higher"),
       (_SNAP + "cycle_mb_per_s", "MB/s", "higher")]
    + [(_KV + "point_ms", "ms", "lower"), (_KV + "range_ms", "ms", "lower"),
       (_KV + "agg_ms", "ms", "lower"), (_KV + "lines_read_per_read", "count", "lower"),
       (_KV + "cells_read_per_cell_returned", "ratio", "lower"),
       (_KV + "files_scanned_per_read", "count", "lower"),
       (_KV + "agg_lines_read", "count", "lower")]
    + [("streaming.batches", "count", "lower"), ("streaming.trigger_ms_p50", "ms", "lower"),
       ("streaming.state_rows", "count", "lower"),
       ("util.ProcessMemo.entries_added", "count", "lower")]
    + [("operators.%s.%s_s" % (m, p), "s", "lower")
       for m in OPERATOR_MODULES for p in ("construct", "plan", "execute")]
    + [("harness.gen_s", "s", "lower"), ("harness.check_s", "s", "lower"),
       ("harness.cleanup_s", "s", "lower"), ("harness.wall_s", "s", "lower"),
       ("harness.samples", "count", "higher"), ("harness.op_p90_ms", "ms", "lower"),
       ("harness.failed_ratio", "ratio", "lower"),
       ("trace.overhead_ratio", "ratio", "lower")]
    + [("trace.self_s." + layer, "s", "lower")
       for layer in ("workload", "operation", "step", "phase", "job", "batch")]
)


def percentile(values, p):
    """Linear-interpolated p-th percentile (0..100) and the sample count."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = (len(xs) - 1) * p / 100.0
    lo = math.floor(rank)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (rank - lo), len(xs)


def geomean(values):
    """Geometric mean of positive values: every value weighs the same."""
    if not values or any(v <= 0 for v in values):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def failed_ratio(attempted, failed):
    if attempted < 1:
        raise ValueError("no operation attempted")
    return failed / attempted


def mean(values):
    return sum(values) / len(values) if values else 0.0


def _covered(intervals):
    """Total length of the union of (start, end) intervals."""
    total, end = 0.0, -math.inf
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def assign_batch_parents(spans):
    """Streaming batches carry no parent; give each the innermost
    operation, step or phase span whose interval holds its start, and drop
    the batches no such span holds: those of untraced operations, which
    only the workload span covers. Returns new spans."""
    holders = [s for s in spans if s["layer"] not in ("batch", "job", "workload")]
    out = []
    for s in spans:
        if s["layer"] == "batch" and s["parent"] < 0:
            inside = [h for h in holders if h["start"] <= s["start"] <= h["end"]]
            if not inside:
                continue
            s = dict(s, parent=min(inside, key=lambda h: h["end"] - h["start"])["id"])
        out.append(s)
    return out


def self_times(spans):
    """Self time per layer: each span's duration minus the part of its
    interval its children cover, summed by layer (same unit as spans)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in children.get(s["id"], [])]
        own = (s["end"] - s["start"]) - _covered([k for k in kids if k[1] > k[0]])
        out[s["layer"]] = out.get(s["layer"], 0.0) + own
    return out


def overhead_ratio(ops):
    """Traced against untraced operations of the same kind: the geometric
    mean over kinds of median(traced) / median(untraced), minus one."""
    ratios = []
    for kind in sorted({o["kind"] for o in ops}):
        t = [o["ms"] for o in ops if o["kind"] == kind and o["traced"]]
        u = [o["ms"] for o in ops if o["kind"] == kind and not o["traced"]]
        if t and u:
            ratios.append(statistics.median(t) / statistics.median(u))
    return geomean(ratios) - 1.0 if ratios else 0.0


def parse_raw(raw):
    raw = dict(raw)
    raw["ops"] = [dict(zip(("kind", "ms", "ok", "traced"), o)) for o in raw["ops"]]
    raw["spans"] = [dict(zip(("id", "parent", "layer", "name", "start", "end", "extra"), s))
                    for s in raw["spans"]]
    return raw


def end_to_end(raw, launched_ms):
    """The end-to-end metric values of an untraced run."""
    ms = [o["ms"] for o in raw["ops"]]
    v, s = raw["values"], raw["samples"]
    return {
        "setup_s": (raw["info"]["session_ready_ms"] - launched_ms) / 1e3
        + statistics.median(s["harness.gen_s"]) + v["harness.warmup_s"],
        "op_p50_ms": percentile(ms, 50)[0],
        "op_geomean_ms": geomean(ms),
        "ops_per_s": len(ms) / (sum(ms) / 1e3),
        "peak_rss_mb": v["peak_rss_mb"],
    }


def per_layer(raw):
    """The per-layer metric values of a traced run; 0 where a layer did no
    work in this workload."""
    v, s = raw["values"], raw["samples"]
    ops, spans = raw["ops"], assign_batch_parents(raw["spans"])
    out = {name: 0.0 for name, _, _ in PER_LAYER}

    def med(name):
        return statistics.median(s[name]) if s.get(name) else 0.0

    for name in ("phase.construct_ms", "phase.plan_ms", "phase.execute_ms",
                 "phase.plan_exchanges"):
        out[name] = mean(s.get(name, []))
    by_id = {x["id"]: x for x in spans}
    constructs = [x for x in spans if x["layer"] == "phase" and x["name"] == "construct"]
    construct_jobs = sum(1 for x in spans if x["layer"] == "job"
                         and by_id.get(x["parent"], {}).get("name") == "construct")
    out["phase.construct_jobs"] = construct_jobs / len(constructs) if constructs else 0.0

    ex = raw["exec"]
    for k in ("jobs", "stages", "tasks", "task_cpu_s", "task_gc_s", "shuffle_read_mb",
              "shuffle_write_mb", "spill_mb"):
        out["exec." + k] = mean([e[k] for e in ex])
    skews = [x for e in ex for x in e["task_skew"]]
    out["exec.task_skew"] = statistics.median(skews) if skews else 0.0

    for name, _, _ in PER_LAYER:
        if name.startswith(_SNAP) or name in (_KV + "point_ms", _KV + "range_ms",
                                              _KV + "agg_ms"):
            out[name] = med(name)
    reads = v.get(_KV + "reads", 0)
    if reads:
        out[_KV + "lines_read_per_read"] = v[_KV + "lines_read"] / reads
        out[_KV + "cells_read_per_cell_returned"] = (
            v[_KV + "lines_read"] / max(1.0, v[_KV + "cells_returned"]))
        scans = [e["tasks"] for e in ex if e["kind"] in ("point", "range")]
        out[_KV + "files_scanned_per_read"] = mean(scans)
    out[_KV + "agg_lines_read"] = v.get(_KV + "agg_lines_read", 0.0)

    batches = [x for x in spans if x["layer"] == "batch"]
    traced_ops = sum(1 for o in ops if o["traced"])
    if batches and traced_ops:
        out["streaming.batches"] = len(batches) / traced_ops
        out["streaming.trigger_ms_p50"] = statistics.median(
            [b["extra"]["trigger_ms"] for b in batches])
        last = {}
        for b in sorted(batches, key=lambda b: b["extra"]["batch"]):
            last[b["name"]] = b["extra"]["state_rows"]
        out["streaming.state_rows"] = sum(last.values()) / traced_ops
    out["util.ProcessMemo.entries_added"] = med("util.ProcessMemo.entries_added")

    passes = v.get("harness.passes", 0)
    for m in OPERATOR_MODULES:
        for p in ("construct", "plan", "execute"):
            name = "operators.%s.%s_s" % (m, p)
            out[name] = v.get(name, 0.0) / passes if passes else 0.0

    out["harness.gen_s"] = med("harness.gen_s")
    out["harness.check_s"] = v.get("harness.check_s", 0.0)
    out["harness.cleanup_s"] = v.get("harness.cleanup_s", 0.0)
    out["harness.wall_s"] = v["harness.wall_s"]
    out["harness.samples"] = len(ops)
    out["harness.op_p90_ms"] = percentile([o["ms"] for o in ops], 90)[0]
    out["harness.failed_ratio"] = failed_ratio(len(ops), sum(1 for o in ops if not o["ok"]))
    out["trace.overhead_ratio"] = overhead_ratio(ops)
    for layer, ms in self_times(spans).items():
        out["trace.self_s." + layer] = ms / 1e3
    return out
