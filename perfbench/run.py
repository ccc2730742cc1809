#!/usr/bin/env python3
"""The repository benchmark: run a workload for a fixed time, check its
results and print its metrics.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (perfbench/build.sbt); later runs reuse the
build while the sources are unchanged. The harness (perfbench/src) runs
in one JVM on a `local[<cores>]` engine session and writes a result
record; this script prints every metric with its unit and, as the last
line, one JSON object: {"correct", "attempted", "failed", "metrics"}.
`--workload all` runs the three workloads in turn, each report ending in
its own JSON object.
`--trace 0` reports the end-to-end metrics; `--trace 1` the per-layer
metrics, from a run that traces every warm operation. The traced run
also prints its tracing overhead against the untraced runs of the same
sources in this checkout, or says that there are none.

Workloads (see BENCHMARK.json): tpch_sql, ssb_store_hybrid, dedup_ingest.
Everything the run writes goes under perfbench/out/.
"""
import argparse
import hashlib
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time

import trace_summary

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
BUILD = os.path.join(OUT, "build")
WORKLOADS = ["tpch_sql", "ssb_store_hybrid", "dedup_ingest"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs the module opens that
# spark-submit would add (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads, for the rebuild stamp."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build(stamp):
    """Compile engine and harness; return the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if all(os.path.isfile(f) for f in (cp_file, stamp_file)):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as f:
                    return f.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as lf:
        rc = wait(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                   "export Runtime/fullClasspath"],
                  sbt_env(), HERE, lf, BUILD_TIMEOUT_S, f"build timed out; see {log}")
    if rc != 0:
        fail(f"build failed (sbt exit {rc}); see {log}")
    with open(log) as f:
        lines = [l.strip() for l in f if ".jar" in l and os.pathsep in l]
    if not lines:
        fail(f"build printed no classpath; see {log}")
    cp = lines[-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def run_harness(cp, workload, args, work, result_path, spans_path):
    """Run the harness JVM on one workload; everything it writes (Spark
    scratch, warehouse tables, temp files) goes under `work`."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    env["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dderby.system.home=" + os.path.join(work, "derby")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--data", os.path.join(HERE, "data"),
            "--workload", workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--out", result_path, "--spans", spans_path]
    log = os.path.join(OUT, f"{workload}.log")
    with open(log, "w") as lf:
        rc = wait(cmd, env, work, lf, RUN_TIMEOUT_S, f"harness timed out; see {log}")
    if rc != 0 or not os.path.isfile(result_path):
        with open(log) as f:
            tail = f.readlines()[-30:]
        sys.stderr.write("".join(tail))
        fail(f"harness exited {rc}; see {log}")
    with open(result_path) as f:
        return json.load(f)


def wait(cmd, env, cwd, out, timeout, timeout_msg):
    """Run `cmd` to completion; kill it and fail past `timeout` seconds."""
    os.makedirs(cwd, exist_ok=True)
    # its own process group, so a timeout also stops the JVM a launcher
    # script started
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(timeout_msg)


def cpu_steal_s():
    """CPU time the hypervisor gave to other guests (Linux), summed over CPUs."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def untraced_ops_per_s(workload, stamp):
    """Median ops_per_s of the untraced runs of `workload` built from the
    same sources (`stamp`), the base of the tracing overhead; None when
    there is none."""
    rates = []
    results = os.path.join(OUT, "results")
    for name in os.listdir(results):
        if name.startswith(workload + "-") and name.endswith("-trace0.json"):
            with open(os.path.join(results, name)) as f:
                record = json.load(f)
            if record["source_sha256"] == stamp:
                rates.append(record["harness"]["end_to_end"]["ops_per_s"])
    return statistics.median(rates) if rates else None


def per_layer(res, spans_path):
    """Per-layer metrics: the harness's counters plus span-derived times."""
    layers = dict(res["layers"])
    summary = trace_summary.summarize(trace_summary.load(spans_path))
    ops = max(summary["ops"], 1)
    incl, own = summary["incl_s"], summary["self_s"]
    for name, span in [("engine.plan_s", "engine"),
                       ("catalyst.analysis_s", "catalyst.analysis"),
                       ("catalyst.optimization_s", "catalyst.optimization"),
                       ("catalyst.planning_s", "catalyst.planning"),
                       ("exec.run_s", "exec"),
                       ("operators.candidates_s", "operators.candidates"),
                       ("operators.jaccard_s", "operators.jaccard"),
                       ("operators.corpus_new_s", "operators.corpus_new"),
                       ("sources.append_s", "sources.append"),
                       ("sources.compact_s", "sources.compact")]:
        layers[name] = incl.get(span, 0.0) / ops
    for layer in trace_summary.LAYERS:
        layers[f"self.{layer}_s"] = own.get(layer, 0.0) / ops
        layers[f"share.{layer}"] = own.get(layer, 0.0) / summary["wall_s"] if summary["wall_s"] else 0.0
    layers["trace.coverage"] = sum(own.values()) / summary["wall_s"] if summary["wall_s"] else 0.0
    layers["trace.ops"] = summary["ops"]

    def ratio(a, b):
        return layers.get(a, 0.0) / layers[b] if layers.get(b) else 0.0
    layers["cache.lookups"] = layers.get("cache.hits", 0.0) + layers.get("cache.misses", 0.0)
    layers["cache.hit_ratio"] = ratio("cache.hits", "cache.lookups")
    layers["operators.precision"] = ratio("operators.confirmed_pairs", "operators.candidate_pairs")
    layers["sources.write_amp"] = ratio("sources.write_mb", "sources.ingested_mb")
    return layers, summary


def run_workload(cp, stamp, bench, workload, args):
    """Run one workload, print its report and return its result object."""
    tag = f"{workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(OUT, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    results = os.path.join(OUT, "results")
    os.makedirs(results, exist_ok=True)
    result_path = os.path.join(results, tag + ".harness.json")
    spans_path = os.path.join(results, tag + ".spans.jsonl")
    load0 = os.getloadavg()
    steal0 = cpu_steal_s()
    cpu0 = resource.getrusage(resource.RUSAGE_CHILDREN)
    t0 = time.time()
    try:
        res = run_harness(cp, workload, args, work, result_path, spans_path)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    cpu1 = resource.getrusage(resource.RUSAGE_CHILDREN)
    steal1 = cpu_steal_s()

    correct = res["failed"] == 0 and not res["regime_violations"]
    if args.trace == 0:
        metrics = {m["name"]: {"value": res["end_to_end"][m["name"]], "unit": m["unit"]}
                   for m in bench["end_to_end"]}
        summary = overhead = None
    else:
        layers, summary = per_layer(res, spans_path)
        base = untraced_ops_per_s(workload, stamp)
        overhead = 1 - res["end_to_end"]["ops_per_s"] / base if base else None
        metrics = {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in bench["per_layer"]}

    record = {
        "workload": workload, "seed": args.seed, "trace": args.trace,
        "git_commit": git_commit(), "source_sha256": stamp,
        "correct": correct, "metrics": metrics, "trace_overhead": overhead, "harness": res,
        "covariates": {
            "loadavg_start": load0, "loadavg_end": os.getloadavg(),
            "jvm_cpu_s": (cpu1.ru_utime + cpu1.ru_stime) - (cpu0.ru_utime + cpu0.ru_stime),
            "run_wall_s": time.time() - t0,
            "cpu_steal_s": steal1 - steal0 if steal0 is not None and steal1 is not None else None,
            "jvm_gc_s": res["covariates"]["gc_s"],
            "warm_gc_s": res["covariates"]["warm_gc_s"]},
    }
    with open(os.path.join(results, tag + ".json"), "w") as f:
        json.dump(record, f, indent=1)

    print(f"workload {workload}, seed {args.seed}, trace {args.trace}, "
          f"cores {res['cores']}, commit {record['git_commit'] or 'unknown'}")
    print(f"constants: {json.dumps(res['constants'], sort_keys=True)}")
    e2e, samples = res["end_to_end"], res["samples"]
    print(f"warm operations {samples['warm_ops']}: latency p50 {e2e['latency_p50_s']:.4f} s, "
          f"p90 {e2e['latency_p90_s']:.4f} s ({samples['beyond_p90']} beyond it); "
          f"failed {res['failed']} of {res['attempted']} (failed_frac {e2e['failed_frac']:.4f})")
    print(f"covariates: {json.dumps(record['covariates'])}")
    for msg in res["failures"]:
        print(f"FAILED: {msg}")
    for msg in res["regime_violations"]:
        print(f"REGIME: {msg}")
    if summary is not None:
        trace_summary.report(summary, overhead)
    for name, m in metrics.items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    return {"correct": correct, "attempted": res["attempted"], "failed": res["failed"],
            "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description="Run one benchmark workload, or all of them.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("no engine sources next to perfbench/ — run from a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    stamp = source_digest()
    cp = build(stamp)
    correct = True
    for workload in (WORKLOADS if args.workload == "all" else [args.workload]):
        result = run_workload(cp, stamp, bench, workload, args)
        correct = correct and result["correct"]
        print(json.dumps(result))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
