#!/usr/bin/env python3
"""Benchmark entry point: builds the engine and the benchmark from the
checkout's sources (once per source state), runs one workload in a fresh
JVM, checks its outcome against BENCHMARK.json and prints one JSON line.

Usage (from the repository root):
    python3 perfbench/run.py --workload serve_mixed --seed 1 --seconds 15 --trace 0

Exit codes: 0 with a result line; 2 when the sources or the build are
missing; 1 when the run failed or printed an incomplete result.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 170  # a run must end within 180 s, build excluded
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 outside spark-submit needs these (as in the root build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, dirs, names in os.walk(top):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles with sbt when the sources changed; returns the classpath."""
    files = sources()
    stamp = os.path.join(OUT, "classpath.json")
    fp = fingerprint(files)
    if os.path.exists(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached.get("fingerprint") == fp:
            return cached["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building (sbt compile)")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit(2)
    log(f"built in {time.time() - t0:.0f} s")
    os.makedirs(OUT, exist_ok=True)
    with open(stamp, "w") as fh:
        json.dump({"fingerprint": fp, "classpath": lines[-1]}, fh)
    return lines[-1]


def run_jvm(classpath, args, work, spans, budget_s):
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # no hsperfdata under the system temp dir: the run writes only here
    cmd += ["-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--spans", spans]
    os.makedirs(os.path.join(work, "tmp"))
    proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=budget_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log(f"run exceeded {budget_s:.0f} s")
        raise SystemExit(1)
    if proc.returncode != 0:
        log(f"JVM exited with {proc.returncode}")
        raise SystemExit(1)
    for line in reversed(out.splitlines()):
        if line.startswith("PERFBENCH_RESULT "):
            return json.loads(line[len("PERFBENCH_RESULT "):])
    log("no result line")
    raise SystemExit(1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t0 = time.time()

    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log("engine sources not found next to the benchmark")
        raise SystemExit(2)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        log(f"unknown workload {args.workload}")
        raise SystemExit(2)

    classpath = build()
    t0 = time.time()  # the build has its own, longer allowance
    work = os.path.join(OUT, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spans = os.path.join(OUT, "traces", f"{args.workload}-seed{args.seed}.jsonl")
    try:
        res = run_jvm(classpath, args, work, spans, DEADLINE_S - (time.time() - t0))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    got = res["metrics"]
    metrics = {}
    for m in declared:
        if m["name"] in got:
            v = got[m["name"]]
        elif args.trace:
            v = 0.0  # a layer this workload does not exercise
        else:
            log(f"workload did not report {m['name']}")
            raise SystemExit(1)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    extra = set(got) - {m["name"] for m in declared} - {"setup_s"}
    if extra:
        log(f"undeclared metrics {sorted(extra)}")
        raise SystemExit(1)
    print(json.dumps({
        "correct": bool(res["gates_ok"]) and res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
