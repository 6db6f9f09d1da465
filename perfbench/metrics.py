"""Metric arithmetic: end-to-end metrics from the harness's raw
measurements, and per-layer metrics from its spans and per-task records.

Kept free of I/O so the arithmetic is unit-tested on its own
(perfbench/tests/test_metrics.py).
"""
import json
import math
import statistics

from gen import OPERATORS

MB = 1024.0 * 1024.0

END_TO_END = [
    ("setup_s", "s"), ("wall_s", "s"), ("op_p50_s", "s"), ("op_p90_s", "s"),
    ("records_per_s", "1/s"), ("peak_rss_mb", "MB"),
]

# Span name -> the per-span statistics reported for it, on every
# workload of BENCHMARK.json.
SPAN_LAYERS = [
    ("pipeline.CurationRun.runIncremental",
     ["s", "jobs", "task_s", "util", "driver_gap_s", "shuffle_write_mb",
      "output_mb"]),
    ("pipeline.CurationRun.runInit",
     ["s", "jobs", "task_s", "util", "driver_gap_s", "shuffle_write_mb",
      "output_mb"]),
    ("pipeline.ServeSession.answer.bm25", ["s", "jobs"]),
    ("pipeline.ServeSession.answer.lm", ["s", "jobs"]),
    ("pipeline.ServeSession.answer.ann", ["s", "jobs"]),
    ("pipeline.Bm25State.serve", ["s", "jobs", "input_mb"]),
    ("pipeline.LmState.serve", ["s", "jobs", "input_mb"]),
    ("pipeline.CurationRun.annServe", ["s", "jobs", "input_mb"]),
    ("pipeline.ServeSession.swapTo", ["s", "input_mb"]),
] + [("queries." + q, ["s", "jobs", "task_s", "shuffle_write_mb"])
     for q in OPERATORS]

# The layers of tfl_weekly_etl, which is not in BENCHMARK.json (see
# README.md); reported on that workload only.
ETL_LAYERS = [
    ("pipeline.JourneyPipeline.run",
     ["s", "jobs", "task_s", "util", "driver_gap_s", "input_mb", "output_mb"]),
    ("pipeline.Runner.materializeEnriched", ["s", "jobs", "output_mb"]),
    ("pipeline.Enrich.ridesPerStationHour", ["s", "jobs"]),
    ("pipeline.InitPipeline.run", ["s"]),
]
ETL_DERIVED = [
    ("bench.weekly_cycle.self_s", "s"),
    ("sources.read_amp", "ratio"),
    ("sources.write_amp", "ratio"),
]

# One-shot serving spans: their input bytes over the bytes of the
# composed state they could read give pipeline.StateLayout.read_fraction.
ONE_SHOT = ["pipeline.Bm25State.serve", "pipeline.LmState.serve",
            "pipeline.CurationRun.annServe"]

HEALTH = ["codegen_fallbacks", "window_global", "window_skew",
          "window_bnd_overflow", "cache_leases_reclaimed"]

UNITS = {"s": "s", "jobs": "count", "task_s": "s", "util": "ratio",
         "driver_gap_s": "s", "input_mb": "MB", "output_mb": "MB",
         "shuffle_write_mb": "MB"}

# Derived per-layer metrics: name -> unit.
DERIVED = [
    ("pipeline.StateLayout.read_fraction", "ratio"),
    ("trace.overhead_s", "s"),
] + [("health." + h, "count") for h in HEALTH]


def span_layers(workload):
    return SPAN_LAYERS + (ETL_LAYERS if workload == "tfl_weekly_etl" else [])


def per_layer_spec(workload=None):
    """Every per-layer metric of `workload` as (name, unit), in report
    order; without a workload, those of BENCHMARK.json."""
    out = [(f"{span}.{stat}", UNITS[stat])
           for span, stats in span_layers(workload) for stat in stats]
    return out + DERIVED + (ETL_DERIVED if workload == "tfl_weekly_etl" else [])


# ---------------------------------------------------------------------------
# Arithmetic


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no values")
    s = sorted(values)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def median(values):
    return statistics.median(values) if values else 0.0


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals` ([start, end] pairs), each
    clipped to [lo, hi] when given."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """Span id -> self time in seconds: the span's duration minus the
    part of its interval that its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
        covered = union_length(kids, s["start"], s["end"])
        out[s["id"]] = (s["end"] - s["start"] - covered) / 1e3
    return out


def span_stats(span, tasks, jobs_by_tag, cores):
    """Layer statistics of one span from the tasks and jobs of its tag."""
    secs = (span["end"] - span["start"]) / 1e3
    mine = tasks.get(span["tag"], [])
    task_s = sum(t[4] for t in mine) / 1e3
    busy = union_length([(t[2], t[3]) for t in mine],
                        span["start"], span["end"]) / 1e3
    return {
        "s": secs,
        "jobs": jobs_by_tag.get(span["tag"], 0),
        "task_s": task_s,
        "util": task_s / (secs * cores) if secs > 0 else 0.0,
        "driver_gap_s": max(0.0, secs - busy),
        "shuffle_write_mb": sum(t[5] for t in mine) / MB,
        "input_mb": sum(t[6] for t in mine) / MB,
        "output_mb": sum(t[7] for t in mine) / MB,
    }


def index_trace(res):
    tasks, jobs = {}, {}
    for t in res.get("tasks", []):
        tasks.setdefault(t[0], []).append(t)
    for _, tag in res.get("jobs", []):
        jobs[tag] = jobs.get(tag, 0) + 1
    return tasks, jobs


def per_layer(res, manifest, workload=None):
    """Per-layer metrics of a traced run, every name in
    per_layer_spec(workload); layers the workload never entered read 0."""
    spans = res["spans"]
    tasks, jobs = index_trace(res)
    cores = res["cores"]
    stats = {}
    for s in spans:
        stats.setdefault(s["name"], []).append(
            span_stats(s, tasks, jobs, cores))
    vals = {}
    for name, keys in span_layers(workload):
        for k in keys:
            vals[f"{name}.{k}"] = median([st[k] for st in stats.get(name, [])])

    vals["pipeline.StateLayout.read_fraction"] = median(
        [span_stats(s, tasks, jobs, cores)["input_mb"] * MB / s["state_bytes"]
         for s in spans if s["name"] in ONE_SHOT and s.get("state_bytes")])
    vals["trace.overhead_s"] = res["wall_s"] - res["untraced_wall_s"]
    for h in HEALTH:
        vals["health." + h] = res["health"][h]
    if workload == "tfl_weekly_etl":
        vals.update(etl_derived(spans, tasks, jobs, cores, manifest))
    return vals


def etl_derived(spans, tasks, jobs, cores, manifest):
    """Weekly-cycle self time and the per-week read and write
    amplification."""
    vals = {}
    selfs = self_times(spans)
    vals["bench.weekly_cycle.self_s"] = median(
        [selfs[s["id"]] for s in spans if s["name"] == "bench.weekly_cycle"])

    # Amplification per week: bytes the week's load read (or the whole
    # cycle wrote) over the bytes of that week's CSV.
    weeks = (manifest or {}).get("weeks", [])
    loads = [s for s in spans if s["name"] == "pipeline.JourneyPipeline.run"]
    cycles = [s for s in spans if s["name"] == "bench.weekly_cycle"]
    read_amp, write_amp = [], []
    for w, load, cyc in zip(weeks, loads, cycles):
        read_amp.append(span_stats(load, tasks, jobs, cores)["input_mb"] * MB
                        / w["bytes"])
        kids = [s for s in spans if s["parent"] == cyc["id"]]
        written = sum(span_stats(k, tasks, jobs, cores)["output_mb"] * MB
                      for k in kids)
        write_amp.append(written / w["bytes"])
    vals["sources.read_amp"] = median(read_amp)
    vals["sources.write_amp"] = median(write_amp)
    return vals


def end_to_end(res, gen_s):
    ops = [o["s"] for o in res["ops"] if o["latency"]]
    wall = res["wall_s"]
    setup = gen_s + (res["setup_done_ms"] - res["launch_ms"]) / 1e3
    return {
        "setup_s": setup,
        "wall_s": wall,
        "op_p50_s": median(ops),
        "op_p90_s": percentile(ops, 90),
        "records_per_s": res["records"] / wall,
        "peak_rss_mb": res["peak_rss_mb"],
    }


def input_sizes(manifest, input_bytes):
    """Rows and bytes the program was given."""
    if "weeks" in manifest:
        rows = sum(w["rows"] for w in manifest["weeks"])
    elif "operators" in manifest:
        return {"rows": manifest["rows"], "bytes": manifest["bytes"]}
    else:
        rows = manifest["docs"]
    return {"rows": rows, "bytes": input_bytes}


def summarize(workload, manifest, res, gen_s, traced, input_bytes):
    """The result object (plus human-readable report lines under
    "report", which the caller prints before it)."""
    ops = res["ops"]
    failed = [o for o in ops if not o["ok"]]
    if traced:
        vals = per_layer(res, manifest, workload)
        spec = per_layer_spec(workload)
    else:
        vals = end_to_end(res, gen_s)
        spec = END_TO_END
    report = [
        f"[perfbench] {workload}: {len(ops)} operations, {len(failed)} failed "
        f"(failed_ratio {len(failed) / len(ops):.4f})"]
    for o in failed[:20]:
        report.append(f"[perfbench] failed {o['kind']}: {o['note']}")
    report += [f"[perfbench] {n}" for n in res.get("notes", [])]
    diag = dict(res.get("diagnostics", {}))
    diag["inputs"] = input_sizes(manifest, input_bytes)
    diag["health"] = res.get("health", {})
    diag["generate_s"] = gen_s
    diag["session_s"] = (res["session_ready_ms"] - res["launch_ms"]) / 1e3
    diag["warmup_s"] = (res["setup_done_ms"] - res["session_ready_ms"]) / 1e3
    diag["check_s"] = res["check_s"]
    diag["op_s"] = [o["s"] for o in ops if o["latency"]]
    if traced:
        diag["untraced_wall_s"] = res["untraced_wall_s"]
        diag["extras_s"] = res["extras_s"]
    report.append("[perfbench] diagnostics " + json.dumps(diag, sort_keys=True))
    return {
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {n: {"value": vals[n], "unit": u} for n, u in spec},
        "report": report,
    }

