"""Metric arithmetic of the benchmark: percentiles, span self time, and the
per-layer roll-up of a traced run. Pure functions over the harness output."""
import math
import statistics

PERCENTILES = (50, 90, 99, 99.9)
FULL_LAYERS = ("etl", "io", "queries", "dedup")
REDUCED_LAYERS = ("text", "similarity", "multimodal", "ml")
FULL_SET = ("busy_s", "self_s", "build_s", "plan_s", "driver_gap_s", "jobs", "stages", "tasks",
            "exec_run_s", "exec_cpu_s", "serial_stage_s", "shuffle_write_mb", "shuffle_read_mb",
            "spill_mb", "failed_ops")
REDUCED_SET = ("busy_s", "jobs", "driver_gap_s", "exec_run_s", "shuffle_write_mb")
# Lazy ETL stages, timed as growing prefixes of one chain, in chain order.
PREFIX_STAGES = ("io.read_json", "etl.flatten", "etl.derive", "etl.validate", "etl.dedup")
STAGE_SPANS = PREFIX_STAGES + ("etl.report", "io.write_quarantine", "io.write_curated",
                               "io.write_report", "io.snapshot_merge")
COUNTERS = ("io.bytes_written_mb", "etl.cached_mb_left", "functions.register_s",
            "io.write_amp", "io.snapshot_space_amp", "etl.ads_per_s",
            "jvm.peak_rss_mb", "jvm.live_heap_mb")


def _rank(p, n):
    # rounded first so that 99.9 % of 10000 is rank 9990, not 9991
    return max(1, math.ceil(round(p / 100 * n, 9)))


def percentile(values, p):
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[_rank(p, len(s)) - 1]


def tail_percentile(values):
    """The highest percentile of PERCENTILES with at least ten samples
    above it, as (p, value); None when even the median has fewer."""
    n = len(values)
    supported = [p for p in PERCENTILES if n - _rank(p, n) >= 10]
    return (supported[-1], percentile(values, supported[-1])) if supported else None


def union_length(intervals, lo, hi):
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, reach = 0.0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= max(s, reach):
            continue
        total += e - max(s, reach)
        reach = e
    return total


def self_time(span, children):
    """A span's duration minus the part of it its child spans cover."""
    return (span["end"] - span["start"]) - union_length(
        [(c["start"], c["end"]) for c in children], span["start"], span["end"])


def _tree(spans):
    by_id = {s["id"]: s for s in spans}
    kids = {s["id"]: [] for s in spans}
    for s in spans:
        if s["parent"] in kids:
            kids[s["parent"]].append(s)

    def root(s):
        while s["parent"] in by_id:
            s = by_id[s["parent"]]
        return s

    def same_layer_ancestor(s):
        p = by_id.get(s["parent"])
        while p is not None:
            if p["layer"] == s["layer"]:
                return True
            p = by_id.get(p["parent"])
        return False

    def descendants(s):
        out = [s]
        for k in kids[s["id"]]:
            out += descendants(k)
        return out

    return kids, root, same_layer_ancestor, descendants


def layer_metrics(spans, failed_ops):
    """Per-layer roll-up of the spans under operation spans (kind "op").

    Every bus event sits in exactly one span's counters, so counts sum over
    a layer's spans. Busy time sums the layer's outermost spans; driver gap
    is the part of that busy time in which no job of the span ran.
    """
    kids, root, same_layer_ancestor, descendants = _tree(spans)
    op_spans = [s for s in spans if root(s)["kind"] == "op"]
    out = {}
    for layer in FULL_LAYERS + REDUCED_LAYERS:
        mine = [s for s in op_spans if s["layer"] == layer]
        outer = [s for s in mine if not same_layer_ancestor(s)]
        c = lambda key: sum(s["counters"][key] for s in mine)
        gap = 0.0
        for s in outer:
            jobs = [tuple(j) for d in descendants(s) for j in d["counters"]["job_intervals"]]
            gap += (s["end"] - s["start"]) - union_length(jobs, s["start"], s["end"])
        m = {
            "busy_s": sum(s["end"] - s["start"] for s in outer) / 1e3,
            "self_s": sum(self_time(s, kids[s["id"]]) for s in mine) / 1e3,
            "build_s": sum(s["build_ms"] for s in mine) / 1e3,
            "plan_s": c("plan_ms") / 1e3,
            "driver_gap_s": gap / 1e3,
            "jobs": c("jobs"),
            "stages": c("stages"),
            "tasks": c("tasks"),
            "exec_run_s": c("exec_run_ms") / 1e3,
            "exec_cpu_s": c("exec_cpu_ns") / 1e9,
            "serial_stage_s": c("serial_stage_ms") / 1e3,
            "shuffle_write_mb": c("shuffle_write_b") / 1e6,
            "shuffle_read_mb": c("shuffle_read_b") / 1e6,
            "spill_mb": c("spill_b") / 1e6,
            "failed_ops": failed_ops.get(layer, 0),
        }
        keep = FULL_SET if layer in FULL_LAYERS else REDUCED_SET
        out.update({f"{layer}.{k}": m[k] for k in keep})
    return out


def stage_metrics(spans):
    """Busy time of each ETL stage per batch: prefix spans give their
    increment over the previous prefix; the other stages are timed directly."""
    dur = {}
    for s in spans:
        if s["name"] in STAGE_SPANS:
            dur.setdefault(s["name"], []).append((s["end"] - s["start"]) / 1e3)
    out, prev = {}, 0.0
    for name in PREFIX_STAGES:
        cur = statistics.median(dur[name]) if name in dur else 0.0
        out[f"{name}.busy_s"] = max(0.0, cur - prev) if name in dur else 0.0
        prev = cur if name in dur else prev
    for name in STAGE_SPANS[len(PREFIX_STAGES):]:
        out[f"{name}.busy_s"] = statistics.median(dur[name]) if name in dur else 0.0
    return out


def per_layer_names():
    names = [f"{l}.{k}" for l in FULL_LAYERS for k in FULL_SET]
    names += [f"{l}.{k}" for l in REDUCED_LAYERS for k in REDUCED_SET]
    names += [f"{s}.busy_s" for s in STAGE_SPANS]
    return names + list(COUNTERS)
