"""Aggregation, percentile and self-time code of the benchmark runner.

Pure functions over the raw result a run writes; perfbench/tests covers
them on fixed inputs.
"""
import json
import math


def median(xs):
    xs = sorted(xs)
    if not xs:
        raise ValueError("median of no values")
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2.0


def percentile(xs, p):
    """Linear interpolation between closest ranks (numpy's default)."""
    xs = sorted(xs)
    if not xs:
        raise ValueError("percentile of no values")
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail(xs, p=99.0, beyond=10):
    """The p-th percentile when at least `beyond` samples lie above it,
    else the largest sample (too few samples to place a percentile)."""
    if len(xs) * (100.0 - p) / 100.0 >= beyond:
        return percentile(xs, p)
    return max(xs)


def union_length(intervals):
    """Total length covered by (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals
            if min(e, hi) > max(s, lo)]


def self_times(spans, extra_children=()):
    """Self time of each span: its duration minus the part of it covered
    by its children. `spans` are dicts with id/parent/start_ms/end_ms;
    `extra_children` are (start_ms, end_ms) intervals (Spark jobs) that
    become children of the innermost span containing their start.
    Returns {span id: self ms}."""
    children = {s["id"]: [] for s in spans}
    for s in spans:
        if s["parent"] in children:
            children[s["parent"]].append((s["start_ms"], s["end_ms"]))
    for iv in extra_children:
        owner = innermost(spans, iv[0])
        if owner is not None:
            children[owner["id"]].append(iv)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        out[s["id"]] = (hi - lo) - union_length(clip(children[s["id"]], lo, hi))
    return out


def innermost(spans, t):
    """The shortest span containing time t, or None."""
    best = None
    for s in spans:
        if s["start_ms"] <= t <= s["end_ms"]:
            if best is None or (s["end_ms"] - s["start_ms"]) < (
                    best["end_ms"] - best["start_ms"]):
                best = s
    return best


def layer_of(span_name):
    return span_name.split(".", 1)[0]


def layer_self_ms(spans, jobs):
    """Self time per layer (first component of the span name); Spark job
    intervals count as the `spark.job` layer."""
    job_ivs = [(j["start_ms"], j["end_ms"]) for j in jobs if j["end_ms"] >= 0]
    own = self_times(spans, job_ivs)
    out = {}
    for s in spans:
        layer = layer_of(s["name"])
        out[layer] = out.get(layer, 0.0) + own[s["id"]]
    if job_ivs:
        out["spark.job"] = union_length(job_ivs)
    return out


def rate(items, seconds):
    return items / seconds if seconds > 0 else 0.0


def cell_seconds(c):
    return (c["end_ms"] - c["start_ms"]) / 1000.0


def end_to_end(raw):
    """The end-to-end metrics of one run (see BENCHMARK.json). A metric the
    run could not measure -- its workload aborted before the timed cells or
    samples it needs -- is None."""
    w = raw["workload"]
    cells = raw["cells"]
    m = {
        "setup_s": raw["setup_s"],
        "peak_rss_mb": raw["peak_rss_mb"],
        "ok_ratio": (raw["attempted"] - raw["failed"]) / raw["attempted"],
        "throughput_per_s": None,
        "latency_p50_ms": None,
    }
    if w in ("transport", "analytics"):
        # each operation (a backend's produce or consume, a relay corner, a
        # query) counts with the median of its repeated runs
        kinds = ("produce", "consume", "relay") if w == "transport" else ("query",)
        ops = {}
        for c in cells:
            if c["kind"] in kinds:
                ops.setdefault((c["kind"], c["name"]), []).append(c)
        lat = [median([cell_seconds(c) for c in cs]) * 1000.0
               for cs in ops.values()]
        if lat:
            m["throughput_per_s"] = rate(
                sum(cs[0]["items"] for cs in ops.values()), sum(lat) / 1000.0)
    elif w == "streaming":
        lat = raw["samples"].get("latency_ms", [])
        drain = [c for c in cells if c["kind"] == "drain"]
        if drain:
            m["throughput_per_s"] = rate(sum(c["items"] for c in drain),
                                         sum(cell_seconds(c) for c in drain))
    else:
        raise ValueError(f"unknown workload {w}")
    if lat:
        m["latency_p50_ms"] = percentile(lat, 50)
    return m


def spark_layer(raw, windows, cores):
    """Spark scheduler metrics over the timed windows [(start, end)] ms:
    jobs submitted in them, their stages, tasks launched in them."""
    def inside(t):
        return any(lo <= t <= hi for lo, hi in windows)
    fields = raw["task_fields"]
    tasks = [dict(zip(fields, t)) for t in raw["tasks"]]
    tasks = [t for t in tasks if inside(t["launch_ms"])]
    jobs = [j for j in raw["jobs"] if inside(j["start_ms"])]
    wall_ms = union_length(windows)
    job_ivs = [(j["start_ms"], j["end_ms"] if j["end_ms"] >= 0 else j["start_ms"])
               for j in jobs]
    busy_ms = union_length([iv for w in windows for iv in clip(job_ivs, *w)])
    run_s = sum(t["run_ms"] for t in tasks) / 1000.0
    sched = sum(max(0, (t["finish_ms"] - t["launch_ms"]) - t["run_ms"] - t["deser_ms"]
                    - t["result_ser_ms"] - t["getting_result_ms"]) for t in tasks)
    mb = 1e6
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len({s for j in jobs for s in j["stages"]}),
        "spark.tasks": len(tasks),
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "spark.scheduler_delay_s": sched / 1000.0,
        "spark.parallel_efficiency": run_s / (wall_ms / 1000.0 * cores) if wall_ms else 0.0,
        "spark.shuffle_read_mb": sum(t["shuffle_read_bytes"] for t in tasks) / mb,
        "spark.shuffle_write_mb": sum(t["shuffle_write_bytes"] for t in tasks) / mb,
        "spark.spill_mb": sum(t["spill_bytes"] for t in tasks) / mb,
        "spark.driver_only_s": (wall_ms - busy_ms) / 1000.0,
    }


PROGRESS_DURATIONS = {
    "stream.trigger_ms": "triggerExecution",
    "stream.latest_offset_ms": "latestOffset",
    "stream.query_planning_ms": "queryPlanning",
    "stream.add_batch_ms": "addBatch",
    "stream.wal_commit_ms": "walCommit",
    "stream.commit_offsets_ms": "commitOffsets",
}


def parse_progress(progress):
    return [p if isinstance(p, dict) else json.loads(p) for p in progress]


def progress_total_ms(progress, duration):
    """Sum of one StreamingQueryProgress duration over all batches."""
    return sum(p.get("durationMs", {}).get(duration, 0)
               for p in parse_progress(progress))


def mean(xs):
    return sum(xs) / len(xs)


def stream_layer(progress):
    """Per micro-batch means from StreamingQueryProgress (its durations are
    whole milliseconds, so a mean keeps the digits a median would round
    away); batches that read no rows are left out."""
    ps = [p for p in parse_progress(progress) if p.get("numInputRows", 0) > 0]
    out = {k: 0.0 for k in PROGRESS_DURATIONS}
    out.update({"stream.batches": len(ps), "stream.rows_per_batch": 0.0,
                "stream.state_commit_ms": 0.0, "stream.state_rows": 0.0,
                "stream.state_mb": 0.0})
    if not ps:
        return out
    for k, d in PROGRESS_DURATIONS.items():
        out[k] = mean([p.get("durationMs", {}).get(d, 0) for p in ps])
    out["stream.rows_per_batch"] = mean([p["numInputRows"] for p in ps])
    ops = [p["stateOperators"][0] for p in ps if p.get("stateOperators")]
    if ops:
        out["stream.state_commit_ms"] = mean([o.get("commitTimeMs", 0) for o in ops])
        out["stream.state_rows"] = max(o.get("numRowsTotal", 0) for o in ops)
        out["stream.state_mb"] = max(o.get("memoryUsedBytes", 0) for o in ops) / 1e6
    return out
