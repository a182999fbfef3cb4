"""Arithmetic of the graft benchmark: turns the raw run record written by
perfbench.Main into end-to-end metrics, per-layer metrics and spans.

Pure functions only; `test_metrics.py` pins them.
"""
import math

# name -> unit. BENCHMARK.json lists the same names and units
# (test_metrics.py checks that they agree).
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "op_geomean_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "operators.build_s": "s",
    "operators.self_s": "s",
    "operators.eager_jobs": "count",
    "plans.plan_s": "s",
    "plans.codegen_compiles": "count",
    "plans.exchanges": "count",
    "plans.exchanges_reused": "count",
    "driver.jobs": "count",
    "driver.stages": "count",
    "driver.tasks": "count",
    "driver.jobs_s": "s",
    "driver.gap_s": "s",
    "exec.task_s": "s",
    "exec.cpu_s": "s",
    "exec.busy": "ratio",
    "exec.spill_mb": "MB",
    "exec.peak_mem_mb": "MB",
    "jvm.gc_s": "s",
    "shuffle.write_mb": "MB",
    "shuffle.read_mb": "MB",
    "shuffle.fetch_wait_s": "s",
    "io.input_mb": "MB",
    "io.input_rows": "count",
    "io.output_mb": "MB",
    "util.cache_live_max": "count",
    "util.storage_mb": "MB",
    "etl.merge_s": "s",
    "etl.maintenance_s": "s",
    "etl.latest_s": "s",
    "etl.bytes_written_mb": "MB",
    "etl.store_mb": "MB",
    "etl.files_live": "count",
    "etl.write_p50_s": "s",
    "etl.write_p90_s": "s",
    "etl.read_p50_s": "s",
    "etl.read_p90_s": "s",
    "etl.write_amp": "ratio",
    "etl.space_amp": "ratio",
    "trace.overhead_s": "s",
    "trace.reconcile_err_s": "s",
}

# An op reconciles when its layer times add up to its wall time within
# RECONCILE_ABS_S + RECONCILE_REL * wall. Job times come from Spark's
# scheduler clock in whole milliseconds, the op marks from the JVM's
# nanosecond clock; the allowance covers that rounding, nothing more.
RECONCILE_ABS_S = 0.005
RECONCILE_REL = 0.01


def median(xs):
    s = sorted(xs)
    if not s:
        raise ValueError("median of no values")
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it. Always an observed value."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no values")
    if not 0 < p <= 100:
        raise ValueError("p must be in (0, 100]")
    return s[max(1, math.ceil(p / 100 * len(s))) - 1]


def geomean(xs):
    if not xs or any(x <= 0 for x in xs):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def union_length(intervals):
    """Length covered by the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
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


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    s, e = span
    return (e - s) - union_length(clip(children, s, e))


def op_layers(sample):
    """Splits one traced op into its layers (seconds).

    call_s   inside graft's public call (operator build or etl call),
             eager jobs included;
    plan_s   action start -> first job of the action;
    jobs_s   union of the action's job intervals;
    gap_s    driver time in the action after its first job that no job
             covers.
    call_s + plan_s + jobs_s + gap_s equals the op's wall time unless a
    job interval reaches outside the action: `err_s` is the difference.
    """
    t0, t1, t2 = sample["t0_ms"], sample["t1_ms"], sample["t2_ms"]
    jobs = [(float(a), float(b if b >= 0 else t2)) for _, a, b in sample["jobs"]]
    # job starts are whole milliseconds: one that starts within a
    # millisecond of the action start belongs to the action
    eager = [j for j in jobs if j[0] < t1 - 1.0]
    action = [j for j in jobs if j[0] >= t1 - 1.0]
    first = min((a for a, _ in action), default=t2)
    call = t1 - t0
    plan = max(0.0, first - t1)
    job_union = union_length(action)
    gap = (t2 - first) - union_length(clip(action, first, t2)) if action else 0.0
    wall = sample["wall_s"]
    total = (call + plan + job_union + gap) / 1e3
    return {
        "call_s": call / 1e3,
        "call_self_s": self_time((t0, t1), eager) / 1e3,
        "eager_jobs": len(eager),
        "plan_s": plan / 1e3,
        "jobs_s": job_union / 1e3,
        "all_jobs_s": union_length(jobs) / 1e3,
        "gap_s": gap / 1e3,
        "err_s": total - wall,
    }


def reconciles(sample, layers):
    return abs(layers["err_s"]) <= RECONCILE_ABS_S + RECONCILE_REL * sample["wall_s"]


def timed(raw, traced=None):
    """Samples of the measured passes (warm-up passes are numbered <= 0)."""
    return [s for s in raw["samples"] if s["pass"] > 0
            and (traced is None or s["traced"] == traced)]


def passes(raw, traced):
    """Records of the measured passes."""
    return [p for p in raw["passes"] if p["pass"] > 0 and p["traced"] == traced]


def _kind_walls(samples, kind):
    return [s["wall_s"] for s in samples if s["kind"] == kind]


def lakehouse(samples, passes):
    """Write/read latency and amplification of the lakehouse workload;
    zeros for the query workloads, which neither write nor keep a store."""
    out = {"etl.write_p50_s": 0.0, "etl.write_p90_s": 0.0,
           "etl.read_p50_s": 0.0, "etl.read_p90_s": 0.0,
           "etl.write_amp": 0.0, "etl.space_amp": 0.0}
    writes, reads = _kind_walls(samples, "write"), _kind_walls(samples, "read")
    if writes:
        out["etl.write_p50_s"] = percentile(writes, 50)
        out["etl.write_p90_s"] = percentile(writes, 90)
    if reads:
        out["etl.read_p50_s"] = percentile(reads, 50)
        out["etl.read_p90_s"] = percentile(reads, 90)
    change = sum(p.get("change_bytes", 0) for p in passes)
    if change:
        out["etl.write_amp"] = sum(p["bytes_written"] for p in passes) / change
        out["etl.space_amp"] = median(
            [p["store_bytes"] / p["latest_bytes"] for p in passes])
    return out


def end_to_end(raw):
    """The metrics a user sees, from the untraced measured passes."""
    samples = timed(raw, traced=False)
    walls = [s["wall_s"] for s in samples]
    per_op = {}
    for s in samples:
        per_op.setdefault(s["op"], []).append(s["wall_s"])
    return {
        "setup_s": raw["setup_s"],
        "pass_s": median([p["wall_s"] for p in passes(raw, False)]),
        "op_p50_s": percentile(walls, 50),
        "op_p90_s": percentile(walls, 90),
        "op_geomean_s": geomean([median(v) for v in per_op.values()]),
        "peak_rss_mb": raw["peak_rss_mb"],
    }


def per_layer(raw):
    """Per-layer metrics: each a workload total per traced pass (a
    maximum for the *_max, peak and live-store metrics), median over the
    traced passes. Lakehouse latencies come from the untraced passes of
    the same run."""
    traced = timed(raw, traced=True)
    by_pass = {}
    for s in traced:
        by_pass.setdefault(s["pass"], []).append(s)
    rows = []
    for p in passes(raw, True):
        ss = by_pass.get(p["pass"], [])
        lay = [op_layers(s) for s in ss]
        q = [(s, l) for s, l in zip(ss, lay) if s["kind"] == "query"]
        wall = sum(s["wall_s"] for s in ss)
        task_s = sum(s["task_s"] for s in ss)

        def tot(key, kind=None):
            return sum(l[key] for s, l in zip(ss, lay)
                       if kind is None or s["kind"] == kind)
        rows.append({
            "operators.build_s": sum(l["call_s"] for _, l in q),
            "operators.self_s": sum(l["call_self_s"] for _, l in q),
            "operators.eager_jobs": sum(l["eager_jobs"] for _, l in q),
            "plans.plan_s": tot("plan_s"),
            "plans.codegen_compiles": sum(s["codegen"] for s in ss),
            "plans.exchanges": sum(s["exchanges"] for s in ss),
            "plans.exchanges_reused": sum(s["exchanges_reused"] for s in ss),
            "driver.jobs": sum(len(s["jobs"]) for s in ss),
            "driver.stages": sum(s["stages"] for s in ss),
            "driver.tasks": sum(s["tasks"] for s in ss),
            "driver.jobs_s": tot("all_jobs_s"),
            "driver.gap_s": tot("gap_s"),
            "exec.task_s": task_s,
            "exec.cpu_s": sum(s["cpu_s"] for s in ss),
            "exec.busy": task_s / (wall * raw["cores"]) if wall else 0.0,
            "exec.spill_mb": sum(s["spill_mb"] for s in ss),
            "exec.peak_mem_mb": max((s["peak_mem_mb"] for s in ss), default=0.0),
            "jvm.gc_s": sum(s["gc_s"] for s in ss),
            "shuffle.write_mb": sum(s["shuffle_write_mb"] for s in ss),
            "shuffle.read_mb": sum(s["shuffle_read_mb"] for s in ss),
            "shuffle.fetch_wait_s": sum(s["fetch_wait_s"] for s in ss),
            "io.input_mb": sum(s["input_mb"] for s in ss),
            "io.input_rows": sum(s["input_rows"] for s in ss),
            "io.output_mb": sum(s["output_mb"] for s in ss),
            "util.cache_live_max": max((s["cache_live"] for s in ss), default=0),
            "util.storage_mb": max((s["storage_mb"] for s in ss), default=0.0),
            "etl.merge_s": tot("call_s", "write"),
            "etl.maintenance_s": tot("call_s", "maintenance"),
            "etl.latest_s": tot("call_s", "read"),
            "etl.bytes_written_mb": p.get("bytes_written", 0) / 1048576,
            "etl.store_mb": p.get("store_bytes", 0) / 1048576,
            "etl.files_live": p.get("files_live", 0),
            "trace.reconcile_err_s": max((abs(l["err_s"]) for l in lay), default=0.0),
        })
    out = {k: median([r[k] for r in rows]) for k in rows[0]}
    untraced = timed(raw, traced=False)
    out.update(lakehouse(untraced, passes(raw, False)))
    out["trace.overhead_s"] = (median([p["wall_s"] for p in passes(raw, True)])
                               - median([p["wall_s"] for p in passes(raw, False)]))
    return out


def spans(raw):
    """The traced run's spans: op -> graft call -> jobs it started, and
    op -> action -> its jobs. Times in epoch milliseconds; every span of
    one op shares its `op` id. Each op also carries its counts, layer
    split and layer self times."""
    out = []
    for s in timed(raw, traced=True):
        lay = op_layers(s)
        op_id = s["id"]
        call_name = "operators.build" if s["kind"] == "query" else "etl." + s["op"]
        call = (s["t0_ms"], s["t1_ms"])
        action = (s["t1_ms"], s["t2_ms"])
        jobs = [(j, float(a), float(b)) for j, a, b in s["jobs"]]
        eager = [(a, b) for _, a, b in jobs if a < s["t1_ms"] - 1.0]
        in_action = [(a, b) for _, a, b in jobs if a >= s["t1_ms"] - 1.0]
        out.append({"op": op_id, "span": op_id, "parent": None, "name": s["op"],
                    "start": s["t0_ms"], "end": s["t2_ms"],
                    "self_ms": self_time((s["t0_ms"], s["t2_ms"]), [call, action]),
                    "layers": lay, "reconciles": reconciles(s, lay),
                    "counts": {k: s[k] for k in (
                        "stages", "tasks", "codegen", "exchanges",
                        "exchanges_reused", "cache_live", "rows")}})
        out.append({"op": op_id, "span": op_id + "/call", "parent": op_id,
                    "name": call_name, "start": call[0], "end": call[1],
                    "self_ms": self_time(call, eager)})
        out.append({"op": op_id, "span": op_id + "/action", "parent": op_id,
                    "name": "action", "start": action[0], "end": action[1],
                    "self_ms": self_time(action, in_action)})
        for j, a, b in jobs:
            parent = op_id + ("/call" if a < s["t1_ms"] - 1.0 else "/action")
            out.append({"op": op_id, "span": f"{op_id}/job{j}", "parent": parent,
                        "name": "job", "start": a, "end": b, "self_ms": b - a})
    return out
