#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its result.

Usage (from the repository root):

    python3 perfbench/run.py --workload geo_scan --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark with sbt on first use (or when a
source changed), launches one JVM for the workload, checks every result,
and prints a human summary followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones. The exit code is 0 only when every op
succeeded and every check passed.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

T0 = time.monotonic()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
# every JVM run must finish well inside the 180 s a run may take
RUN_LIMIT_S = 170
HEAP = "3g"
# the module flags Spark needs on JDK 17 outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Digest of every file the build reads."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
            os.path.join(BENCH_DIR, "build.sbt"),
            os.path.join(BENCH_DIR, "project", "build.properties")]
    trees = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH_DIR, "src")]
    files = [p for p in tops if os.path.isfile(p)]
    for t in trees:
        for d, _, fs in os.walk(t):
            files += [os.path.join(d, f) for f in fs]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the classpath,
    the build's seconds and the sources' digest."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    stamp_file = os.path.join(BUILD_DIR, "stamp.txt")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    cp = g.read().strip()
                if all(os.path.exists(p) for p in cp.split(os.pathsep)[:2]):
                    return cp, 0.0, stamp
    t = time.monotonic()
    os.makedirs(BUILD_DIR, exist_ok=True)
    log = os.path.join(BUILD_DIR, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "export perfbench/Runtime/fullClasspath"],
            cwd=BENCH_DIR, stdout=subprocess.PIPE, stderr=out, text=True, timeout=840)
        out.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        tail = "\n".join(open(log).read().splitlines()[-30:])
        fail(f"build failed (exit {r.returncode}); log {log}:\n{tail}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, time.monotonic() - t, stamp


def java_cmd(cp, work, main, args, heap=HEAP, flags=()):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [java, f"-Xmx{heap}", *flags, *opens, f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", cp, main, *args]


def run_java(cmd, work, log_name, limit, beside=None):
    """Run a JVM to completion. `beside(elapsed)` is polled while it runs."""
    env = dict(os.environ, LC_ALL="C.utf8")
    log = os.path.join(work, log_name)
    deadline = time.monotonic() + max(5.0, limit)
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT, env=env)
        while p.poll() is None and time.monotonic() < deadline:
            if beside:
                beside()
            time.sleep(0.1)
        if p.poll() is None:
            p.kill()
        code = p.wait()
    if time.monotonic() >= deadline and code != 0:
        code = None
    return code, log


def tail(path, n=25):
    try:
        with open(path, errors="replace") as f:
            return "\n".join(f.read().splitlines()[-n:])
    except OSError:
        return ""


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--cpus", type=int, default=None,
                    help="Spark worker threads (default: min(4, CPUs of this host))")
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found at the repository root")
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"the program's sources are missing ({need}); run from a full checkout")
    with open(spec_path) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    nproc = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    cpus = a.cpus if a.cpus is not None else min(4, nproc)
    if cpus < 1 or cpus > nproc:
        fail(f"--cpus {cpus} exceeds the {nproc} CPUs of this host")

    cp, build_s, stamp = build()
    pre_launch_s = time.monotonic() - T0 - build_s
    deadline = T0 + build_s + RUN_LIMIT_S
    base = None
    if a.trace:
        # trace.overhead compares this run with an untraced run of the same
        # build; without one kept, make one first
        base = untraced_baseline(a.workload, a.seed, stamp)
        if base is None:
            res, checks = measure(a, cp, cpus, stamp, 0, deadline)
            if checks or res["failed"]:
                report(a, res, checks, spec, None)
            base = (res["metrics"]["op_p50_ms"], f"untraced run of seed {a.seed}, made first")
    res, checks = measure(a, cp, cpus, stamp, a.trace, deadline)
    res["metrics"]["setup_s"] += pre_launch_s
    report(a, res, checks, spec, base)


def measure(a, cp, cpus, stamp, trace, deadline):
    """One benchmark JVM (and its checks): returns its result and the
    failures of the checks made outside it. The result is kept under
    .bench_build/perfbench/runs/, with the JVM logs."""
    work = os.path.join(BENCH_DIR, ".work", f"{a.workload}-s{a.seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    keep = os.path.join(BUILD_DIR, "runs")
    os.makedirs(keep, exist_ok=True)
    stem = os.path.join(keep, f"{a.workload}-s{a.seed}-t{trace}")
    dur = None
    try:
        cmd = java_cmd(cp, work, "perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(trace), "--work", work, "--cpus", str(cpus), "--out", out])
        # the fresh-JVM durability check costs ~20 s of cold reading; it runs
        # with the traced run, where no end-to-end figure is measured
        dur = Durability(cp, work, deadline) if a.workload == "geo" and trace else None
        code, log = run_java(cmd, work, "jvm.log", deadline - time.monotonic(),
                             beside=dur.poll if dur else None)
        if code != 0 or not os.path.isfile(out):
            fail(f"benchmark JVM exited with {code}; last lines of its log "
                 f"(kept as {stem}.log):\n{tail(log)}", 1)
        with open(out) as f:
            res = json.load(f)
        checks = []
        if a.workload == "operator_batch":
            import oracle
            corpus = os.path.join(work, res["details"]["corpus"]["dir"])
            checks = oracle.check(corpus, os.path.join(work, "check"))
        if dur:
            checks = dur.result(res)
        res["stamp"] = stamp
        with open(stem + ".json", "w") as f:
            json.dump(res, f)
        if os.path.isfile(os.path.join(work, "spans.jsonl")):
            shutil.copy(os.path.join(work, "spans.jsonl"), stem + ".spans.jsonl")
        return res, checks
    finally:
        if dur:
            dur.stop()
        for name in ("jvm", "durability"):
            if os.path.isfile(os.path.join(work, f"{name}.log")):
                shutil.copy(os.path.join(work, f"{name}.log"),
                            stem + ("" if name == "jvm" else "." + name) + ".log")
        shutil.rmtree(work, ignore_errors=True)


def untraced_baseline(workload, seed, stamp):
    """(op_p50_ms, description) of the kept untraced run of this workload
    and seed made by the same build; else the median over the kept untraced
    runs of this workload and build; else None."""
    kept = {}
    for p in glob.glob(os.path.join(BUILD_DIR, "runs", f"{workload}-s*-t0.json")):
        try:
            with open(p) as f:
                r = json.load(f)
        except (OSError, ValueError):
            continue
        v = r.get("metrics", {}).get("op_p50_ms")
        if r.get("stamp") == stamp and r.get("failed") == 0 and is_number(v):
            kept[r["seed"]] = v
    if seed in kept:
        return kept[seed], f"untraced run of seed {seed}"
    if kept:
        return statistics.median(kept.values()), f"median of {len(kept)} untraced runs (seeds {sorted(kept)})"
    return None


def is_number(v):
    return isinstance(v, (int, float)) and not isinstance(v, bool) and math.isfinite(v)


class Durability:
    """The durability check of the geo workload's ingest table: as soon as
    the benchmark JVM has written its final model, a fresh JVM reads the
    table from disk only and compares it with the model."""

    def __init__(self, cp, work, deadline):
        self.cp, self.work, self.deadline = cp, work, deadline
        self.expect = os.path.join(work, "durability_expect.json")
        self.got = os.path.join(work, "durability_got.json")
        self.proc = None

    def poll(self):
        if self.proc is None and os.path.isfile(self.expect):
            cmd = java_cmd(self.cp, self.work, "perfbench.Durability", [self.expect, self.got],
                           heap="1g")
            self.log = open(os.path.join(self.work, "durability.log"), "w")
            self.proc = subprocess.Popen(cmd, cwd=self.work, stdout=self.log,
                                         stderr=subprocess.STDOUT, env=dict(os.environ, LC_ALL="C.utf8"))

    def result(self, res):
        self.poll()
        if self.proc is None:
            return ["durability: the benchmark wrote no final model"]
        try:
            code = self.proc.wait(timeout=max(5.0, self.deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            self.proc.kill()
            code = self.proc.wait()
        self.log.close()
        if code != 0 or not os.path.isfile(self.got):
            return [f"durability: fresh JVM exited with {code}: "
                    f"{tail(os.path.join(self.work, 'durability.log'), 5)}"]
        with open(self.got) as f:
            d = json.load(f)
        res.setdefault("details", {})["durability"] = d
        return [] if d.get("ok") else [f"durability: {d.get('error')}"]

    def stop(self):
        if self.proc is not None and self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait()


# per-layer metrics of layers a workload never calls (reported as 0)
NOT_EXERCISED = {
    "geo": ("operators.",),
    "operator_batch": ("sources.", "spatial.", "streaming."),
}
NOT_OBSERVABLE = (
    "functions: kernel time runs inside Spark tasks and shows only in exec.task_cpu_ms",
    "sources: the driver time a scan spends on manifest, footer and stamp reads is inside "
    "exec.driver_only_ms, not split out",
)


def report(a, res, checks, spec, base):
    """Print the summary and the result line; exit 1 unless all is well."""
    if a.trace:
        layer = dict(res["layer"])
        if base:
            layer["trace.overhead"] = res["metrics"]["op_p50_ms"] / base[0]
        for m in spec["per_layer"]:
            if m["name"] not in layer and m["name"].startswith(NOT_EXERCISED[a.workload]):
                layer[m["name"]] = 0.0
        metrics = {m["name"]: {"value": layer.get(m["name"]), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": res["metrics"].get(m["name"]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    failures = res["failures"] + checks
    missing = [n for n, m in metrics.items() if not is_number(m["value"])]
    if missing:
        failures.append(f"metrics not measured: {missing}")
    attempted = res["attempted"]
    failed = res["failed"] + len(checks)
    correct = failed == 0 and not missing
    print(f"perfbench {a.workload} seed={a.seed} trace={res['trace']} cpus={res['cpus']}/{res['nproc']} "
          f"heap_max={res['heap_max_mb']}MB jdk={res['jdk']} spark={res['spark']}")
    for k, v in res.get("details", {}).items():
        print(f"  {k}: {json.dumps(v)}")
    for x in res.get("extra", []):
        print(f"  {x['name']:<28} {fmt(x['value']):>14} {x['unit']:<8} n={x['samples']}")
    print(f"  {'error_rate':<28} {fmt(failed / max(attempted, 1)):>14} {'fraction':<8} n={attempted}")
    for f in failures:
        print(f"  FAILED {f}")
    if a.trace:
        for n, m in metrics.items():
            na = "  n/a: not exercised by this workload" \
                if n.startswith(NOT_EXERCISED[a.workload]) else ""
            print(f"  {n:<34} {fmt(m['value']):>14} {m['unit']}{na}")
        if base:
            print(f"  trace.overhead: traced op_p50_ms {fmt(res['metrics']['op_p50_ms'])} ms "
                  f"/ {fmt(base[0])} ms of the {base[1]}")
        for note in NOT_OBSERVABLE:
            print(f"  not observable from outside the program: {note}")
        for layer_name, ms in sorted(res.get("layer_self_ms", {}).items()):
            print(f"  self time {layer_name:<24} {fmt(ms):>14} ms")
    else:
        for n, m in metrics.items():
            print(f"  {n:<28} {fmt(m['value']):>14} {m['unit']:<8} n={res['samples'][n]}")
    for kind, s in sorted(res.get("op_kinds", {}).items()):
        print(f"  op {kind:<30} n={s['n']:<5} failed={s['failed']:<3} p50={fmt(s['p50_ms'])} ms")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.stdout.flush()
    if not correct:
        sys.exit(1)


if __name__ == "__main__":
    sys.path.insert(0, BENCH_DIR)
    main()
