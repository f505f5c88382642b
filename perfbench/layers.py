"""Per-layer metrics of a traced run, computed from its span file.

The harness (run with --trace 1) writes one span per layer boundary to
spans.jsonl: pass -> op -> build | planning phases | write -> job ->
stage for queries, pass -> op -> gate -> job -> stage for ingest, and
scan spans for the `Tables` readers. Stage spans carry the task metrics
the SparkListener saw; op spans carry executed-plan counts. Unless a
metric says otherwise it is summed over one warm pass and the median
over the run's warm passes is reported.
"""
import json
import statistics
from collections import defaultdict

MB = 2 ** 20
PHASES = ("analysis", "optimization", "planning")

# name -> unit, in the order BENCHMARK.json lists them
METRICS = {
    "sources.scan_s": "s", "sources.input_mb": "MB", "sources.input_rows": "count",
    "operators.build_s": "s", "operators.analysis_s": "s",
    "operators.optimization_s": "s", "operators.planning_s": "s",
    "operators.jobs": "count", "operators.stages": "count", "operators.tasks": "count",
    "operators.scheduler_delay_s": "s", "operators.busy_task_ratio": "ratio",
    "operators.task_run_s": "s", "operators.task_cpu_s": "s",
    "operators.shuffle_write_mb": "MB", "operators.shuffle_read_mb": "MB",
    "operators.shuffle_fetch_wait_s": "s", "operators.spill_mb": "MB",
    "operators.exchanges": "count", "operators.broadcasts": "count",
    "operators.self_s": "s",
    "caches.entries": "count", "caches.scans": "count", "caches.one_time_s": "s",
    "streaming.manifest_batch_s": "s", "streaming.drift_batch_s": "s", "streaming.growth": "ratio",
    "streaming.state_read_mb": "MB", "streaming.written_mb": "MB",
    "streaming.files_written": "count", "streaming.self_s": "s",
    "jvm.gc_s": "s", "jvm.jit_s": "s",
    "harness.traced_pass_s": "s",
}


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def self_times(spans):
    """Span id -> its duration minus its children's (planning phases are
    recorded beside the write they happen in, so they are not subtracted)."""
    kids = defaultdict(float)
    for s in spans:
        if s["parent"] >= 0 and s["name"] not in PHASES:
            kids[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: max(0.0, s["end"] - s["start"] - kids[s["id"]]) / 1e3 for s in spans}


def med(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def per_layer(path, res):
    spans = load(path)
    warm = sorted({s["pass"] for s in spans if s["name"] == "pass" and s["pass"] >= 0})
    selfs = self_times(spans)
    by_pass = defaultdict(lambda: defaultdict(float))
    for s in spans:
        p, a, dur = s["pass"], s["attrs"], (s["end"] - s["start"]) / 1e3
        if p not in warm:
            continue
        acc = by_pass[p]
        gate = s["op"].split("/")[0] in ("manifest", "drift")
        if s["name"] == "build":
            acc["operators.build_s"] += dur
        elif s["name"] in PHASES:
            acc[f"operators.{s['name']}_s"] += dur
        elif s["name"] == "job":
            acc["operators.jobs"] += 1
        elif s["name"] == "stage" and a.get("tasks", 0) > 0:
            acc["operators.stages"] += 1
            acc["operators.tasks"] += a["tasks"]
            acc["busy_tasks"] += a.get("busy_tasks", 0)
            acc["operators.scheduler_delay_s"] += a.get("scheduler_delay_s", 0)
            acc["operators.task_run_s"] += a.get("run_s", 0)
            acc["operators.task_cpu_s"] += a.get("cpu_s", 0)
            acc["operators.shuffle_write_mb"] += a.get("shuffle_write_bytes", 0) / MB
            acc["operators.shuffle_read_mb"] += a.get("shuffle_read_bytes", 0) / MB
            acc["operators.shuffle_fetch_wait_s"] += a.get("fetch_wait_s", 0)
            acc["operators.spill_mb"] += a.get("spill_bytes", 0) / MB
            acc["sources.input_mb"] += a.get("input_bytes", 0) / MB
            acc["sources.input_rows"] += a.get("input_rows", 0)
            if gate:
                # batches arrive in memory, so every file a gate reads is state
                acc["streaming.state_read_mb"] += a.get("input_bytes", 0) / MB
        elif s["name"] == "op":
            acc["operators.exchanges"] += a.get("exchanges", 0)
            acc["operators.broadcasts"] += a.get("broadcasts", 0)
            acc["caches.scans"] += a.get("cache_scans", 0)
        elif s["name"] == "pass":
            acc["harness.traced_pass_s"] += dur
        # stages run concurrently on the executors, so they are not self time
        if s["layer"] == "operators" and s["name"] not in PHASES + ("stage",):
            acc["operators.self_s"] += selfs[s["id"]]
        elif s["layer"] == "streaming":
            acc["streaming.self_s"] += selfs[s["id"]]
    for acc in by_pass.values():
        acc["operators.busy_task_ratio"] = (acc["busy_tasks"] / acc["operators.tasks"]
                                            if acc["operators.tasks"] else 0.0)

    out = {k: med(by_pass[p][k] for p in warm) for k in METRICS}
    out["sources.scan_s"] = sum((s["end"] - s["start"]) / 1e3
                                for s in spans if s["name"] == "scan")
    out["caches.entries"] = float(res["cache_entries"])
    out["jvm.jit_s"] = res["jit_setup_s"]
    out["jvm.gc_s"] = med(p["gc_s"] for p in res["passes"])

    passes = res["passes"]
    warm_op = defaultdict(list)
    for p in passes:
        for op, v in p["op_s"].items():
            if v >= 0:
                warm_op[op].append(v)
    out["caches.one_time_s"] = sum(max(0.0, c - med(warm_op[op], c))
                                   for op, c in res["cold_op_s"].items() if c >= 0)
    for gate in ("manifest", "drift"):
        out[f"streaming.{gate}_batch_s"] = med(
            v for op, vs in warm_op.items() if op.startswith(gate + "/") for v in vs)
    growth = []
    for p in passes:
        per_batch = defaultdict(float)
        for op, v in p["op_s"].items():
            if "/b" in op:
                per_batch[int(op.rsplit("/b", 1)[1])] += v
        n = len(per_batch)
        if n >= 2:
            order = [per_batch[b] for b in sorted(per_batch)]
            growth.append(med(order[n - n // 2:]) / med(order[:n // 2]))
    out["streaming.growth"] = med(growth)
    if res["docs_per_batch"]:
        out["streaming.written_mb"] = med(p["stored_bytes"] for p in passes) / MB
        out["streaming.files_written"] = med(p["stored_files"] for p in passes)
    return {k: {"value": out[k], "unit": u} for k, u in METRICS.items()}
