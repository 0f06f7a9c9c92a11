#!/usr/bin/env python3
"""Query-service benchmark: drives `graft.server.ApiServer` over HTTP with
one closed-loop client and a fixed, seeded request list.

    python3 perfbench/run.py --workload dashboard_small --seed 1 --seconds 20 --trace 0

Run from the repository root. One run: compiles the program if needed
(build.py), generates the seeded dataset (gen.py, cached in
`.bench_cache/`), computes every request's expected answer with DuckDB
(oracle.py, cached beside the data), starts the JVM harness
(scala/Harness.scala), checks every answer and prints the metrics as the
last stdout line. `--trace 1` follows each request with a traced replay
and prints the per-layer metrics instead. Per-request records and spans stay in
`.bench_runs/<workload>-s<seed>-t<trace>/`. See README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

SETUPS = 3  # set-ups per untraced run; setup_s is their median
JVM_HEAP = "3g"
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print("perfbench: " + msg, file=sys.stderr, flush=True)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def expected_answers(entry_dir, dirs, plan, threads):
    """Oracle answers for the pool, per dataset version; cached beside the
    data because they depend only on the data and the request plan."""
    path = os.path.join(entry_dir, "oracle-%s-t%d.json" % (plan["key"], workloads.TEMPLATE_VERSION))
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    answers = oracle.compute(dirs, plan["pool"], threads)
    tmp = path + ".tmp%d" % os.getpid()
    with open(tmp, "w") as f:
        json.dump(answers, f)
    os.rename(tmp, path)
    return answers


def run_jvm(root, classes, cfg_path, run_dir):
    jars = build.jars_dir(root)
    cp = classes + os.pathsep + os.path.join(jars, "*")
    cmd = ["java", "-Xmx" + JVM_HEAP, "-Xss8m", "-XX:+UseG1GC", "-XX:-UsePerfData",
           *[a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")],
           "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
           "-Dlog4j2.level=WARN",
           "-cp", cp, "perfbench.Harness", cfg_path]
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    # Spark's scratch space follows java.io.tmpdir into the run directory
    # unless SPARK_LOCAL_DIRS points elsewhere.
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=run_dir, env=env)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("perfbench: JVM harness timed out after %ds" % JVM_TIMEOUT_S)
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise SystemExit("perfbench: JVM harness exited %d\n%s" % (rc, tail))


def read_jsonl(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def check_answers(records, items, pool_answers):
    """(failures, reasons): non-200 responses plus answers that differ from
    the oracle for the dataset version registered at the time."""
    version = "v1"
    failed, reasons = 0, []
    for rec, item in zip(records, items):
        if item["kind"] == "register":
            version = item["version"]
            if rec["status"] != 200:
                failed += 1
                reasons.append("register %s: HTTP %d" % (version, rec["status"]))
            continue
        why = ("HTTP %d: %s" % (rec["status"], rec["body"][:200]) if rec["status"] != 200
               else oracle.compare(rec["body"], pool_answers[version][item["q"]]))
        if why:
            failed += 1
            reasons.append("q%d@%s %s" % (item["q"], version, why))
    return failed, reasons


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        raise SystemExit("perfbench: run from the repository root (no src/main/scala here)")

    classes = build.build(root)
    w = workloads.WORKLOADS[args.workload]
    ncores = cores()

    t = time.time()
    dirs, digest, hit = gen.cached(os.path.join(root, ".bench_cache"), args.workload,
                                   args.seed, w["data"])
    gen_s = time.time() - t
    plan = workloads.plan(args.workload, args.seed, args.seconds)
    entry = os.path.dirname(os.path.dirname(dirs["v1"]))
    t = time.time()
    answers = expected_answers(entry, dirs, plan, ncores)
    oracle_s = time.time() - t
    log("data %s (%s, %.1fs), oracle %.1fs" % (digest[:12], "cached" if hit else "generated",
                                               gen_s, oracle_s))

    run_dir = os.path.join(root, ".bench_runs", "%s-s%d-t%d" % (args.workload, args.seed, args.trace))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    items = plan["requests"]
    cfg = {
        "outDir": run_dir, "cores": ncores, "setups": 1 if args.trace else SETUPS,
        "cacheEntries": w["cache_entries"], "routingMinBytes": w["routing_min_bytes"],
        "trace": bool(args.trace),
        "basepaths": dirs,
        "warmup": [workloads.body(q) for q in plan["warmup"]],
        "prewarm": [workloads.body(q) for q in plan["prewarm"]],
        "requests": [{"kind": it["kind"], "version": it.get("version", "v1"),
                      "body": workloads.body(plan["pool"][it["q"]]) if it["kind"] == "query" else ""}
                     for it in items],
    }
    cfg_path = os.path.join(run_dir, "plan.json")
    cfg["launchedAtMs"] = int(time.time() * 1000)
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    run_jvm(root, classes, cfg_path, run_dir)

    with open(os.path.join(run_dir, "result.json")) as f:
        result = json.load(f)
    records = read_jsonl(os.path.join(run_dir, "records.jsonl"))
    failed, reasons = check_answers(records, items, answers)
    attempted = len(records)
    if args.trace:
        rf, rr = layers.check_replays(run_dir, items, answers)
        failed, reasons = failed + rf, reasons + rr
        attempted += sum(1 for it in items if it["kind"] == "query")
    for r in reasons[:20]:
        log("FAIL " + r)

    info = {"workload": args.workload, "seed": args.seed, "digest": digest,
            "generation_s": gen_s, "generated": not hit, "oracle_s": oracle_s,
            "requests": len(items), "failed": failed, "failures": reasons}
    if args.trace:
        metrics = layers.per_layer(run_dir, result, records, items, failed, attempted)
        info["self_ms"] = layers.self_times(layers.read_spans(run_dir))
        line = {k: metrics[k] for k in layers.LINE_PER_LAYER}
    else:
        metrics = line = layers.end_to_end(result, records, failed, attempted)
    info["metrics"] = metrics
    info["setup_s_each"] = result["setupSecs"]
    with open(os.path.join(run_dir, "summary.json"), "w") as f:
        json.dump(info, f, indent=1)
    log("records in %s" % os.path.relpath(run_dir, root))
    print(stats.final_line(failed == 0, attempted, failed, line))


if __name__ == "__main__":
    main()
