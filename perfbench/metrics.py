"""End-to-end and per-layer metrics from one harness result."""
import statistics

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "op_p50_s": "s", "cpu_s": "s",
    "heap_live_mb": "MiB",
}

STAGES = ["gate", "exact", "near", "quality", "decontam", "enrich", "pack",
          "manifest", "write", "compact", "other"]

# Per-layer metrics printed by a traced run of every workload. Counts and
# bytes read 0 where a workload does not reach the layer; times are listed
# here only where every workload measures them with sub-millisecond
# resolution, and the rest are printed in the detail line (see README.md).
PER_LAYER = {
    "tables.jobs": "count",
    "queries.build_jobs": "count",
    "operators.pin_jobs": "count",
    "operators.collect_jobs": "count",
    "plans.qes": "count",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_ms": "ms",
    "exec.task_cpu_ms": "ms",
    "exec.job_span_ms": "ms",
    "exec.driver_gap_ms": "ms",
    "exec.shuffle_read_b": "B",
    "exec.shuffle_write_b": "B",
    "exec.input_b": "B",
    "exec.output_b": "B",
    "exec.spill_b": "B",
    **{f"pipeline.{s}.jobs": "count" for s in STAGES},
    "copy.jobs_per_task": "count",
    "copy.list_ms": "ms",
    "copy.stream_ms_per_mib": "ms/MiB",
    "copy.md5_ms_per_mib": "ms/MiB",
    "trace.overhead_s": "s",
}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q):
    xs = sorted(xs)
    if not xs:
        return 0.0
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def timed_ops(workload, ops):
    """The operations whose latency the op quantiles describe."""
    if workload == "copy":
        return [o for o in ops if not o["throttled"]]
    return ops


def compute(workload, res, verdict):
    passes = res["passes"]
    plain = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    ops = [o for o in res["ops"] if not o["traced"] and o["pass"] >= 0]
    lat = [o["lat_s"] for o in timed_ops(workload, ops)]
    values = {
        "setup_s": median(res["setup_s"]),
        "wall_s": median([p["wall_s"] for p in plain]),
        "op_p50_s": quantile(lat, 0.5),
        "cpu_s": median([p["cpu_s"] for p in plain]),
        "heap_live_mb": median([p["heap_live_mb"] for p in plain]),
    }
    e2e = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
    detail = {
        "passes": len(plain), "traced_passes": len(traced),
        "ops_in_quantiles": len(lat),
        "op_p90_s": quantile(lat, 0.9),
        "fail_ratio": verdict["failed"] / max(1, verdict["attempted"]),
        "setup_s_all": res["setup_s"],
        "wall_s_all": [p["wall_s"] for p in plain],
        "harness_phases_s": res["phases"],
    }
    detail.update(workload_metrics(workload, res, ops))
    layers = per_layer(workload, res) if traced else {}
    return e2e, layers, detail


def workload_metrics(workload, res, ops):
    """End-to-end metrics that apply to one workload only."""
    c = res["checks"]
    if workload == "pipeline":
        return {"write_amp": median(c["written_b"]) / c["input_b"]}
    if workload != "copy":
        return {}
    plain = [i for o in ops if not o["throttled"] for i in o["items"]]
    # the throttled task runs once per run, in the warm phase
    slow = [i for o in res["ops"] if o["throttled"] for i in o["items"]]
    mib = lambda i: i["bytes"] / 2**20  # noqa: E731
    rate = [mib(i) / (i["duration_ms"] / 1000) for i in slow if i["duration_ms"] > 0]
    src = c["source"]
    return {
        "copy_mb_s": sum(mib(i) for i in plain)
        / max(1e-9, sum(i["duration_ms"] for i in plain) / 1000),
        "throttle_ratio": median(rate) / c["requested_mbps"],
        "write_amp": sum(i["bytes"] for i in plain)
        / max(1, (src["tree_b"] + src["large_b"]) * len(ops)),
    }


def per_layer(workload, res):
    by_pass = {}
    for row in res["layers"]:
        acc = by_pass.setdefault(row["pass"], {})
        for k, v in row.items():
            if k != "pass":
                acc[k] = acc.get(k, 0.0) + v
    names = sorted({k for acc in by_pass.values() for k in acc})
    out = {k: median([acc.get(k, 0.0) for acc in by_pass.values()]) for k in names}
    passes = res["passes"]
    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes if not p["traced"]]
    out["exec.gc_ms"] = median([p["gc_ms"] for p in traced])
    out["trace.overhead_s"] = (median([p["wall_s"] for p in traced])
                               - median([p["wall_s"] for p in plain]))
    out["trace.traced_wall_s"] = median([p["wall_s"] for p in traced])
    out["trace.untraced_wall_s"] = median([p["wall_s"] for p in plain])
    out.update(res["probes"])
    if workload == "copy":
        ops = [o for o in res["ops"] if o["traced"]]
        submit = [o["submit_ms"] for o in ops]
        status = [s for o in ops for s in o["status_ms"]]
        scrape = [o["metrics_ms"] for o in ops]
        for name, xs in [("submit", submit), ("status", status), ("metrics", scrape)]:
            out[f"copy.http_{name}_ms.p50"] = quantile(xs, 0.5)
            out[f"copy.http_{name}_ms.p90"] = quantile(xs, 0.9)
        out["copy.poll_lag_ms"] = median([o["poll_lag_ms"] for o in ops])
        tasks = out.get("copy.tasks", 1.0) or 1.0
        out["copy.jobs_per_task"] = out.get("exec.jobs", 0.0) / tasks
        out["copy.job_span_ms_per_task"] = out.get("copy.job_span_ms", 0.0) / tasks
        out["copy.registry_tasks"] = res["checks"]["registry_tasks"]
    return out


def per_layer_selection(layers):
    return {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()}


def job_table(spans):
    """Jobs of the traced passes by call site: count and summed span."""
    table = {}
    for s in spans:
        if s["name"].startswith("job "):
            site = s["name"].split(": ", 1)[1]
            row = table.setdefault(site, {"jobs": 0, "ms": 0.0})
            row["jobs"] += 1
            row["ms"] += s["end_ms"] - s["start_ms"]
    return dict(sorted(table.items(), key=lambda kv: -kv[1]["ms"]))
