#!/usr/bin/env python3
"""Benchmark of the graft Spark engine, run from the root of a checkout.

    python3 graftbench/run.py --workload olap --seed 1 --seconds 20 --trace 0

Builds the engine and the benchmark from source (once per checkout),
generates the workload's inputs from the seed (once per workload and
seed), then measures in fresh JVMs, each running Spark in local mode
on every core. The last line of standard output is one JSON object:
`correct`, `attempted`, `failed` and `metrics` (the end-to-end metrics
with --trace 0, the per-layer metrics of a traced run with --trace 1).
Everything else goes to standard error and to graftbench/work/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
TMP = os.path.join(WORK, "tmp", str(os.getpid()))

# Steadiness settings, measured on olap at 4 cores:
# - Parallel GC on a fixed heap: G1's concurrent cycles put 5-9 CPU
#   seconds into a 3 s pass at random; parallel GC reads 2.5-3 s.
# - The measuring JVM runs C1 only. Every pass loads new generated
#   classes (about 60 per olap pass), so C2 never finishes compiling:
#   it spent 3-6 s of compiler time per 4 s pass, and one JVM's level
#   sat up to twice the next one's (olap pass_s spread 0.32 over five
#   seeds, against 0.16 with C1). The kernel micro-timings, which
#   measure steady Java code, run in a JVM of their own with the
#   default JIT.
# - A 512 MB code cache that is never flushed. C1 alone sizes the code
#   cache at 48 MB; dedup's generated classes (about 5 MB of compiled
#   code per pass) fill it by the fourth pass, and from then on the
#   sweeper flushes and the JIT recompiles: jvm.jit_s rose from 0.7 to
#   2.7-6.9 s in that pass and its CPU time by 4-9 s. Compiled code of
#   unloaded classes is still freed.
# -XX:-UsePerfData keeps the JVM from writing /tmp/hsperfdata_*.
JVM_OPTS = ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            "-XX:ReservedCodeCacheSize=512m", "-XX:-UseCodeCacheFlushing"]
C1_ONLY = ["-XX:TieredStopAtLevel=1"]
SBT_TIMEOUT = 840
JVM_TIMEOUT = 170

END_TO_END = {"setup_s": "s", "pass_s": "s", "cpu_s": "s", "storage_peak_mb": "MB"}
PER_LAYER = {
    "session.build_s": "s",
    "tables.scan_mb": "MB", "tables.scan_rows": "count",
    "plan.build_s": "s", "plan.analysis_s": "s", "plan.optimization_s": "s",
    "plan.planning_s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.cpu_s": "s", "exec.run_s": "s", "exec.gc_s": "s", "exec.wait_s": "s",
    "exec.shuffle_write_records": "count", "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB", "exec.spill_mb": "MB",
    "exec.task_skew": "ratio", "exec.shuffle_per_out_row": "ratio",
    "memo.rdds": "count", "memo.mb": "MB",
    "jvm.jit_s": "s", "jvm.classes_loaded": "count",
    "kernel.dot_ns_row": "ns", "kernel.simhash63_ns_row": "ns",
    "kernel.minhash20_ns_row": "ns",
    "ops.attempted": "count", "ops.failed": "count",
    "trace.pass_s": "s", "trace.overhead_pct": "%",
}
WORKLOADS = ("olap", "corpus", "dedup")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def run_child(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit(f"timed out after {timeout}s: {cmd[:3]}")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def source_stamp():
    h = hashlib.sha256()
    for top in ("build.sbt", "project/build.properties", "src/main",
                "graftbench/build.sbt", "graftbench/project/build.properties",
                "graftbench/src"):
        path = os.path.join(ROOT, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles engine and benchmark with sbt; returns the classpath."""
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            old, cp = f.read().split("\n", 1)
        if old == stamp:
            return cp.strip()
    log("building engine and benchmark with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    code, out = run_child(
        ["sbt", "--batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
         "export Runtime/fullClasspath"],
        SBT_TIMEOUT, cwd=HERE, env=env, stdout=subprocess.PIPE,
        stdin=subprocess.DEVNULL, text=True)
    lines = [l for l in out.splitlines() if l.strip() and not l.startswith("[")]
    if code != 0 or not lines:
        sys.stderr.write(out[-4000:])
        raise SystemExit("sbt build failed")
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + lines[-1].strip())
    return lines[-1].strip()


def java(cp, main, args, cpus, jit=()):
    os.makedirs(TMP, exist_ok=True)
    cmd = ["java"] + JVM_OPTS + list(jit)
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={TMP}", f"-Dspark.local.dir={TMP}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, main] + args
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    code, _ = run_child(cmd, JVM_TIMEOUT, cwd=ROOT, env=env,
                        stdin=subprocess.DEVNULL, stdout=sys.stderr)
    if code != 0:
        raise SystemExit(f"JVM exited with {code}: {main} {' '.join(args[:2])}")


def inputs(workload, seed):
    """Generated inputs for (workload, seed), made once per checkout."""
    d = os.path.join(WORK, "inputs", f"{workload}-{seed}")
    if not os.path.exists(os.path.join(d, "properties.json")):
        shutil.rmtree(d, ignore_errors=True)
        t0 = time.time()
        gen.generate(workload, seed, d)
        log(f"generated {workload} inputs for seed {seed} in {time.time() - t0:.1f}s")
    with open(os.path.join(d, "properties.json")) as f:
        return d, json.load(f)


def oracle_check(inputs_dir, dump_dir, queries):
    """tools/check.py (DuckDB) on the dumped results; returns the failures."""
    code, out = run_child(
        [sys.executable, os.path.join(ROOT, "tools", "check.py"), inputs_dir,
         dump_dir] + queries, JVM_TIMEOUT, cwd=ROOT, stdout=subprocess.PIPE,
        stdin=subprocess.DEVNULL, text=True)
    passed = {l.split()[1] for l in out.splitlines() if l.startswith("PASS ")}
    bad = [q for q in queries if q not in passed]
    for l in out.splitlines():
        if l.startswith("FAIL"):
            log(f"oracle {l}")
    return bad


def med(xs):
    return statistics.median(xs) if xs else 0.0


def measure(args, cp, cpus):
    d, props = inputs(args.workload, args.seed)
    key = f"{args.workload}-{args.seed}"
    verified = os.path.join(WORK, "verified", f"{key}.tsv")
    dump = os.path.join(WORK, "dump", key)
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    os.makedirs(os.path.dirname(verified), exist_ok=True)

    out_file = os.path.join(results, f"{key}-t{args.trace}-jvm.json")
    extra = []
    if os.path.exists(verified):
        extra.append(f"expect={verified}")
    else:
        shutil.rmtree(dump, ignore_errors=True)
        extra.append(f"dump={dump}")
    if args.trace:
        os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
        extra += [f"spans={os.path.join(WORK, 'trace', key + '.json')}"]
    java(cp, "graftbench.Main",
         [args.workload, d, str(args.seconds), str(args.trace), out_file] + extra, cpus, C1_ONLY)
    with open(out_file) as f:
        out = json.load(f)
    if args.trace:
        kernels_file = os.path.join(results, f"{key}-kernels.json")
        java(cp, "graftbench.Kernels", [d, kernels_file], cpus)
        with open(kernels_file) as f:
            out["kernels"] = json.load(f)

    attempted, failed = out["attempted"], out["failed"]
    if not os.path.exists(verified):
        queries = sorted(out["fingerprints"])
        bad = oracle_check(d, dump, queries)
        attempted += len(queries)
        failed += len(bad)
        if failed == 0:
            with open(verified, "w") as f:
                for q in queries:
                    f.write(f"{q}\t{out['fingerprints'][q]}\n")
        shutil.rmtree(dump, ignore_errors=True)

    passes = out["passes"]
    if args.trace:
        metrics = layer_metrics(out, passes)
    else:
        metrics = {
            "setup_s": out["setup_s"],
            "pass_s": med([p["wall_s"] for p in passes]),
            "cpu_s": med([p["cpu_s"] for p in passes]),
            "storage_peak_mb": med([p["storage_peak_mb"] for p in passes]),
        }
    units = PER_LAYER if args.trace else END_TO_END
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "inputs": props, "metrics": metrics, "attempted": attempted,
        "failed": failed, "failed_frac": failed / max(1, attempted),
        "errors": out["errors"],
        "passes": len(passes),
        "query_s": {q: med([p["queries"][q] for p in passes if q in p["queries"]])
                    for q in (passes[0]["queries"] if passes else {})},
        "module_s": {m: med([p["modules"].get(m, 0.0) for p in passes])
                     for m in (passes[0]["modules"] if passes else {})},
    }
    with open(os.path.join(results, f"{key}-t{args.trace}.json"), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    for k, v in sorted(metrics.items()):
        log(f"{args.workload} seed {args.seed}: {k} = {v:.6g} {units[k]}")
    log(f"failed {failed} of {attempted} query executions")
    return {
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }


def layer_metrics(out, passes):
    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes if not p["traced"]]
    keys = [k for k in PER_LAYER if not k.startswith(("kernel.", "trace.", "session."))]
    m = {k: med([p["layers"].get(k, 0.0) for p in traced]) for k in keys}
    rows = sum(int(fp.split()[0]) for fp in out["fingerprints"].values())
    m["exec.shuffle_per_out_row"] = m["exec.shuffle_write_records"] / max(1, rows)
    m["session.build_s"] = out["session_s"]
    m.update(out["kernels"])
    m["trace.pass_s"] = med([p["wall_s"] for p in traced])
    base = med([p["wall_s"] for p in plain])
    m["trace.overhead_pct"] = 100.0 * (m["trace.pass_s"] - base) / base
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops the JVM it started (see run_child)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    for need in ("build.sbt", "src/main/scala/graft", "tools/check.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"no engine source here ({need} is missing)")
            sys.exit(2)
    os.makedirs(WORK, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    try:
        cp = build()
        result = measure(args, cp, cpus)
    finally:
        shutil.rmtree(TMP, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
