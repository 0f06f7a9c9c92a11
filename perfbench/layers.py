"""Metrics of one run: end-to-end (untraced pass) and per layer (traced run).

The per-layer figures come from outside the program: HTTP round trips and
`/metrics` for `server`, the tracer's spans around the modules' public
functions for `query`, `catalog`, `engine` and `result`, the benchmark's
SparkListener for `exec` (jobs attributed to the open span), and the GC
MXBeans for `jvm`. Self time of a span is its duration minus its
children's.
"""
import json
import os
from collections import defaultdict

import oracle
from stats import median, metric, p75, percentile


# The per-layer metrics the result line carries (BENCHMARK.json's
# per_layer), the ones an optimisation is most likely to move; the other
# per-layer figures stay in the run's summary.json, which keeps the line
# under its size cap.
LINE_PER_LAYER = [
    "server.rtt_ms", "server.rtt_p75_ms", "server.overhead_ms", "server.cache_hit_ratio",
    "server.cache_hit_ms",
    "query.parse_ms", "catalog.register_ms", "catalog.register_jobs", "catalog.load_ms",
    "engine.plan_ms", "engine.routed_ratio", "operators.routed_build_ms",
    "exec.jobs", "exec.tasks", "exec.job_ms", "exec.driver_gap_ms", "exec.job_share",
    "exec.catalyst_ms", "exec.task_p50_ms", "exec.task_p95_ms", "exec.scan_bytes",
    "exec.shuffle_write_bytes", "exec.peak_exec_mem_mb", "exec.core_s", "jvm.gc_ms",
    "failed_ratio",
]


def _query_rtts_ms(records):
    return [r["rttNs"] / 1e6 for r in records if r["kind"] == "query"]


def _stats_block(rec):
    try:
        return json.loads(rec["body"]).get("stats") or {}
    except ValueError:
        return {}


def end_to_end(result, records, failed, attempted):
    rtts = _query_rtts_ms(records)
    reg = result["passRegisterMs"] + [r["rttNs"] / 1e6 for r in records
                                      if r["kind"] == "register"]
    setups = result["setupSecs"]
    return {
        "setup_s": metric(median(setups), "s", len(setups)),
        "queries_per_s": metric(len(rtts) / result["timedSecs"], "1/s", len(rtts)),
        "latency_p50_ms": metric(median(rtts), "ms", len(rtts)),
        "ok_ratio": metric((attempted - failed) / attempted, "ratio", attempted),
        "register_p50_ms": metric(median(reg), "ms", len(reg)),
        "heap_live_mb": metric(result["heapLiveMb"], "MB", 1),
    }


def _union_ms(intervals, lo, hi):
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def read_spans(run_dir):
    with open(os.path.join(run_dir, "spans.jsonl")) as f:
        return [json.loads(line) for line in f if line.strip()]


def self_times(spans):
    """Median self time (ms) per span name."""
    child = defaultdict(float)
    for s in spans:
        child[s["parent"]] += (s["endNs"] - s["startNs"]) / 1e6
    by_name = defaultdict(list)
    for s in spans:
        by_name[s["name"]].append((s["endNs"] - s["startNs"]) / 1e6 - child[s["id"]])
    return {k: median(v) for k, v in sorted(by_name.items())}


def check_replays(run_dir, items, answers):
    """Oracle check of the answers the replay built through ResultJson."""
    with open(os.path.join(run_dir, "trace.json")) as f:
        replays = {r["req"]: r for r in json.load(f)["replays"]}
    version, failed, reasons = "v1", 0, []
    for i, item in enumerate(items):
        if item["kind"] == "register":
            version = item["version"]
            continue
        why = oracle.compare(replays[i]["answer"], answers[version][item["q"]]) \
            if i in replays else "no replay"
        if why:
            failed += 1
            reasons.append("replay q%d@%s %s" % (item["q"], version, why))
    return failed, reasons


def per_layer(run_dir, result, records, items, failed, attempted):
    spans = read_spans(run_dir)
    with open(os.path.join(run_dir, "trace.json")) as f:
        replays = {r["req"]: r for r in json.load(f)["replays"]}
    by_req = defaultdict(list)
    for s in spans:
        by_req[s["req"]].append(s)
    queries = [i for i, it in enumerate(items) if it["kind"] == "query"]
    nq = len(queries)

    def dur(s):
        return (s["endNs"] - s["startNs"]) / 1e6

    def named(name):
        return [dur(s) for s in spans if s["name"] == name]

    # ---- exec, per replayed query
    per_q = defaultdict(list)
    task_ms, routed_build = [], []
    for i in queries:
        ss = by_req[i]
        jobs = [tuple(j) for s in ss for j in s.get("jobSpansMs", [])]
        build = next(s for s in ss if s["name"] == "result.build")
        root = next(s for s in ss if s["name"] == "request")
        job_in_build = _union_ms(jobs, build["startNs"] / 1e6, build["endNs"] / 1e6)
        per_q["job_ms"].append(job_in_build)
        per_q["gap_ms"].append(dur(build) - job_in_build)
        per_q["share"].append(_union_ms(jobs, root["startNs"] / 1e6, root["endNs"] / 1e6)
                              / max(dur(root), 1e-9))
        for k in ("jobs", "stages", "tasks", "rows", "bytes", "shuffleWrite", "spill",
                  "runMs", "failedTasks"):
            per_q[k].append(sum(s.get(k, 0) for s in ss))
        per_q["peak"].append(max(s.get("peakMem", 0) for s in ss))
        per_q["catalyst"].append(replays[i]["catalystMs"])
        task_ms += [t for s in ss for t in s.get("taskMs", [])]
        if replays[i]["plan"] != "window":
            routed_build.append(dur(build))
    regs = [s for s in spans if s["name"] == "catalog.register"]

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    # ---- server, from the HTTP side of the same pass
    qrecs = [r for r in records if r["kind"] == "query"]
    blocks = [_stats_block(r) for r in qrecs]
    uncached = [r["rttNs"] / 1e6 - b.get("wallTimeMs", 0) for r, b in zip(qrecs, blocks)
                if b.get("cached") is False]
    hits = [r["rttNs"] / 1e6 for r, b in zip(qrecs, blocks) if b.get("cached") is True]
    routed = sum(1 for b in blocks if b.get("plan", "window") != "window")
    before, after = result["metricsBefore"], result["metricsAfter"]
    cache_hits = after["graft_query_cache_hits_total"] - before["graft_query_cache_hits_total"]
    rtt = _query_rtts_ms(records)
    load = named("catalog.load")

    return {
        "server.rtt_ms": metric(median(rtt), "ms", len(rtt)),
        "server.rtt_p75_ms": metric(p75(rtt), "ms", len(rtt)),
        "server.overhead_ms": metric(median(uncached), "ms", len(uncached)),
        "server.cache_hit_ratio": metric(cache_hits / nq, "ratio", nq),
        "server.cache_hit_ms": metric(median(hits), "ms", len(hits)),
        "server.cache_entries": metric(after["graft_result_cache_entries"], "count", 1),
        "query.parse_ms": metric(median(named("query.parse")), "ms", nq),
        "query.validate_ms": metric(median(named("query.validate")), "ms", nq),
        "catalog.register_ms": metric(median([dur(s) for s in regs]), "ms", len(regs)),
        "catalog.register_jobs": metric(mean([s.get("jobs", 0) for s in regs]), "count",
                                        len(regs)),
        "catalog.register_scan_bytes": metric(mean([s.get("bytes", 0) for s in regs]), "B",
                                              len(regs)),
        "catalog.load_ms": metric(median(load), "ms", len(load)),
        "engine.plan_ms": metric(median(named("engine.plan")), "ms", nq),
        "engine.routed_ratio": metric(routed / nq, "ratio", nq),
        "operators.routed_build_ms": metric(median(routed_build), "ms", len(routed_build)),
        "exec.jobs": metric(mean(per_q["jobs"]), "count", nq),
        "exec.stages": metric(mean(per_q["stages"]), "count", nq),
        "exec.tasks": metric(mean(per_q["tasks"]), "count", nq),
        "exec.job_ms": metric(median(per_q["job_ms"]), "ms", nq),
        "exec.driver_gap_ms": metric(median(per_q["gap_ms"]), "ms", nq),
        "exec.job_share": metric(median(per_q["share"]), "ratio", nq),
        "exec.catalyst_ms": metric(median(per_q["catalyst"]), "ms", nq),
        "exec.task_p50_ms": metric(median(task_ms), "ms", len(task_ms)),
        "exec.task_p95_ms": metric(percentile(task_ms, 95) if task_ms else 0, "ms", len(task_ms)),
        "exec.task_max_ms": metric(max(task_ms or [0]), "ms", len(task_ms)),
        "exec.scan_rows": metric(mean(per_q["rows"]), "count", nq),
        "exec.scan_bytes": metric(mean(per_q["bytes"]), "B", nq),
        "exec.shuffle_write_bytes": metric(mean(per_q["shuffleWrite"]), "B", nq),
        "exec.spill_bytes": metric(mean(per_q["spill"]), "B", nq),
        "exec.peak_exec_mem_mb": metric(median(per_q["peak"]) / 1048576.0, "MB", nq),
        "exec.core_s": metric(mean(per_q["runMs"]) / 1000.0, "s", nq),
        "exec.failed_tasks": metric(sum(per_q["failedTasks"]), "count", len(task_ms)),
        "jvm.gc_ms": metric(result["timedGcMs"] / nq, "ms", nq),
        "failed_ratio": metric(failed / attempted, "ratio", attempted),
    }
