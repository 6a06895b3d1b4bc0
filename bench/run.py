#!/usr/bin/env python3
"""graft benchmark runner: one workload, one seed, one JSON result line.

    python3 bench/run.py --workload analytic --seed 1 --seconds 10 --trace 0

Run from the repository root. It builds the engine and the harness
(bench/build.py), generates the seeded inputs, runs the harness JVM
(graftbench.Main) as a single-client closed loop, checks every
operation's output with DuckDB and prints the result as the last line of
standard output. See bench/README.md for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

# scale factor, and the read-latency percentile reported as read_tail_ms:
# the run's reads fall in bands (one per operation, or per manifest path),
# and each percentile sits inside a band rather than on a band's edge
WORKLOADS = {
    "analytic": {"scale": 0.1, "tail": 0.8},
    "interactive": {"scale": 0.01, "tail": 0.75},
    "maintain": {"scale": 0.1, "tail": 0.95},
}
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
RUN_TIMEOUT_S = 170


def loadavg():
    with open("/proc/loadavg") as fh:
        return " ".join(fh.read().split()[:3])


def percentile(xs, p):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, min(len(s) - 1, int(-(-p * len(s) // 1)) - 1))]


def run_jvm(classes, workload, seed, seconds, trace, work, data, out, deadline):
    cpus = min(4, os.cpu_count() or 1)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={tmp}"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(os.getcwd()), "*"),
            "graftbench.Main", f"workload={workload}", f"seed={seed}",
            f"seconds={seconds}", f"trace={trace}", f"data={data}",
            f"work={work}", f"out={out}", f"cpus={cpus}"]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=log, cwd=work)
        try:
            code = proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise RuntimeError(f"harness exited with {code}")
    with open(os.path.join(out, "result.json")) as fh:
        return json.load(fh)


def end_to_end(res, wl, ops, loop_s):
    reads = [o["ms"] for o in ops if o["kind"] == "read"]
    return {
        "setup_s": (res["context_ms"] + statistics.median(res["setup_ms"])
                    + res["warmup_ms"]) / 1000.0,
        "ops_per_s": len(ops) / loop_s,
        "read_p50_ms": statistics.median(reads),
        "read_tail_ms": percentile(reads, WORKLOADS[wl]["tail"]),
    }


def per_layer(res, wl, failed, attempted):
    recs = [r["rec"] for r in res["trace"]]
    n = len(recs)

    def total(key, rs=recs):
        return sum(r.get(key, 0.0) for r in rs)

    def mean_over(key, pred):
        rs = [r for r in recs if pred(r)]
        return total(key, rs) / len(rs) if rs else 0.0

    def ratio(num, den, rs):
        d = total(den, rs)
        return total(num, rs) / d if d else 0.0

    sql = [r for r in recs if "compile_total" in r]
    ops_ = [r for r in recs if "operators_build" in r]
    writes = [o["ms"] for o in res["ops"] if o["kind"] == "write" and not o["traced"]]
    pruned = [r for r in recs if "probe_pruned" in r]
    bypass = [r for r in recs if "probe_bypass" in r]
    meta = [r for r in recs if "probe_metadata" in r]
    def split(is_traced):
        ops = [o for o in res["ops"] if o["traced"] == is_traced]
        return end_to_end(res, wl, ops, sum(o["ms"] for o in ops) / 1000.0)
    untraced, traced = split(False), split(True)
    extra = res["extra"]
    m = {
        "parser.tokenize_ms": total("tokenize") / n,
        "parser.parse_ms": total("parse") / n,
        "compiler.compile_ms": sum(r["compile_total"] - r.get("parse", 0.0) for r in sql) / n,
        "compiler.eager_jobs": total("eager_jobs", sql) / n,
        "catalyst.analysis_ms": total("analysis") / n,
        "catalyst.optimize_ms": total("optimize") / n,
        "catalyst.plan_ms": total("plan") / n,
        "extensions.rule_ms": total("rule_ms") / n,
        "extensions.rule_effective_ratio": ratio("rule_eff", "rule_inv", recs),
        "queries.build_ms": total("queries_build") / n,
        "operators.build_ms": total("operators_build") / n,
        "operators.eager_jobs": total("eager_jobs", ops_) / n,
        "spark.exec_ms": total("exec_ms") / n,
        "spark.jobs": total("jobs") / n,
        "spark.stages": total("stages") / n,
        "spark.tasks": total("tasks") / n,
        "spark.task_busy_ms": total("task_busy") / n,
        "spark.task_wait_ms": total("task_wait") / n,
        "spark.shuffle_write_bytes": total("shuffle_w") / n,
        "spark.shuffle_read_bytes": total("shuffle_r") / n,
        "spark.spill_bytes": total("spill") / n,
        "spark.gc_ms": total("gc") / n,
        "spark.task_failures": total("task_failures"),
        "exec.write_ms": mean_over("write_ms", lambda r: "write_ms" in r),
        "exec.plan_nodes": mean_over("plan_nodes", lambda r: "plan_nodes" in r),
        "sources.build_ms": mean_over("sources_build", lambda r: "sources_build" in r),
        "sources.files_scanned_ratio": ratio("files_scanned", "files_total", pruned),
        "sources.files_scanned_ratio.bypass": ratio("files_scanned", "files_total", bypass),
        "sources.metadata_only_ratio":
            sum(1 for r in meta if r.get("files_scanned", 1) == 0) / len(meta) if meta else 0.0,
        "sources.probe_ms.driver": mean_over("wall", lambda r: "path_driver" in r),
        "sources.probe_ms.distributed": mean_over("wall", lambda r: "path_distributed" in r),
        "sources.manifest_bytes": extra.get("manifest_bytes", 0.0),
        "server.roundtrip_ms": mean_over("wall", lambda r: "bytes_out" in r),
        "server.overhead_ms": mean_over("overhead", lambda r: "bytes_out" in r),
        "server.bytes_out": mean_over("bytes_out", lambda r: "bytes_out" in r),
        "unaccounted_ms": total("unaccounted") / n,
        "trace.overhead.read_p50_ms": traced["read_p50_ms"] - untraced["read_p50_ms"],
        "trace.overhead.ops_per_s": traced["ops_per_s"] - untraced["ops_per_s"],
        "write_p50_ms": statistics.median(writes) if writes else 0.0,
        "write_tail_ms": percentile(writes, WORKLOADS[wl]["tail"]) if writes else 0.0,
        "error_rate": failed / attempted,
        "peak_rss_mb": res["rss_mb"],
        "stored_bytes_ratio":
            extra["stored_bytes"] / extra["source_bytes"] if "stored_bytes" in extra else 0.0,
    }
    return m


END_TO_END = {"setup_s": "s", "ops_per_s": "1/s", "read_p50_ms": "ms",
              "read_tail_ms": "ms"}
PER_LAYER = {
    "parser.tokenize_ms": "ms", "parser.parse_ms": "ms",
    "compiler.compile_ms": "ms", "compiler.eager_jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimize_ms": "ms",
    "catalyst.plan_ms": "ms", "extensions.rule_ms": "ms",
    "extensions.rule_effective_ratio": "ratio", "queries.build_ms": "ms",
    "operators.build_ms": "ms", "operators.eager_jobs": "count",
    "spark.exec_ms": "ms", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.task_busy_ms": "ms",
    "spark.task_wait_ms": "ms", "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.gc_ms": "ms", "spark.task_failures": "count",
    "exec.write_ms": "ms", "exec.plan_nodes": "count",
    "sources.build_ms": "ms", "sources.files_scanned_ratio": "ratio",
    "sources.files_scanned_ratio.bypass": "ratio",
    "sources.metadata_only_ratio": "ratio", "sources.probe_ms.driver": "ms",
    "sources.probe_ms.distributed": "ms", "sources.manifest_bytes": "bytes",
    "server.roundtrip_ms": "ms", "server.overhead_ms": "ms",
    "server.bytes_out": "bytes", "unaccounted_ms": "ms",
    "trace.overhead.read_p50_ms": "ms", "trace.overhead.ops_per_s": "1/s",
    "write_p50_ms": "ms", "write_tail_ms": "ms", "error_rate": "ratio",
    "peak_rss_mb": "MB", "stored_bytes_ratio": "ratio",
}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    deadline = time.time() + RUN_TIMEOUT_S
    root = os.getcwd()
    load_before = loadavg()

    classes = build.build(root)
    # every table, manifest, warehouse and Spark local dir of this run
    # lives under one scratch directory, wiped first
    work = os.path.join(root, ".bench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    data, out = os.path.join(work, "data"), os.path.join(work, "out")
    os.makedirs(out)
    gen.generate(data, a.seed, WORKLOADS[a.workload]["scale"])

    res = run_jvm(classes, a.workload, a.seed, a.seconds, a.trace, work, data, out, deadline)

    checks = check.run_checks(res["checks"], data)
    bad = {n.split("#")[0].split("@")[0]: d for n, ok, d in checks if not ok}
    bad.update({e["name"]: e["err"] for e in res["capture_errors"]})
    errors = [o for o in res["ops"] if o["err"]]
    # an operation whose output check failed fails every time it runs
    failed = sum(1 for o in res["ops"]
                 if o["err"] or o["name"].split("@")[0] in bad)
    attempted = len(res["ops"])
    for o in errors[:10]:
        print(f"FAILED {o['name']}: {o['err']}", file=sys.stderr)
    for n, d in sorted(bad.items()):
        print(f"WRONG {n}: {d}", file=sys.stderr)

    if a.trace:
        metrics, units = per_layer(res, a.workload, failed, attempted), PER_LAYER
    else:
        metrics = end_to_end(res, a.workload, res["ops"], res["loop_ms"] / 1000.0)
        units = END_TO_END
    assert metrics.keys() == units.keys()
    info = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "nproc": os.cpu_count(), "loadavg_before": load_before,
        "loadavg_after": loadavg(), "revision": revision(root),
        "passes": res["passes"], "checks": len(checks),
        "failing": sorted(set(bad) | {o["name"] for o in errors}),
    }
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": failed == 0 and not bad,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


def revision(root):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except OSError:
        pass
    with open(os.path.join(build.build_dir(root), "stamp")) as fh:
        return "source-sha256:" + fh.read()[:16]


if __name__ == "__main__":
    main()
