#!/usr/bin/env python3
"""Run one graft benchmark workload and print its metrics.

    python3 perfbench/run.py --workload pit_training --seed 7 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds graft's sources and
the benchmark harness with sbt into `.bench_build/` (later runs reuse the
build while the sources are unchanged). Each run generates the workload's
inputs from the seed, runs one JVM (set-up repeated, then the timed loop),
checks the outputs outside the timed window, and prints as its last line
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones from the outside-in tracer.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

BUILD_DIR = ".bench_build"
GRAFT_SRC = os.path.join("src", "main", "scala", "graft")
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 800
CORES = min(4, len(os.sched_getaffinity(0)))  # local[k], k <= nproc
SETUP_REPS = 3  # set-up repetitions per run; setup_s is their median

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

E2E_UNITS = {"op_p50_ms": "ms", "work_per_s": "1/s", "setup_s": "s"}


def layer_unit(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("_share", "_ratio", "_amp", "_skew", "per_row_returned")):
        return "ratio"
    return "count"


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest(root):
    h = hashlib.sha256()
    for base in (os.path.join(root, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_home():
    """The Spark distribution graft builds against: $SPARK_HOME, else the one
    whose bin/spark-submit is on the PATH."""
    candidates = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)]
    for c in candidates:
        if c and os.path.isdir(os.path.join(c, "jars")):
            return c
    fail("no Spark distribution found: set SPARK_HOME")


def build(root):
    """Compile graft + the harness with sbt unless the sources are unchanged;
    return the runtime classpath."""
    out = os.path.join(root, BUILD_DIR)
    os.makedirs(out, exist_ok=True)
    stamp, cp_file = os.path.join(out, "build.stamp"), os.path.join(out, "classpath.txt")
    digest = sources_digest(root)
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == digest:
                with open(cp_file) as g:
                    return g.read()
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=dict(os.environ, SPARK_HOME=spark_home()),
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ":" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


def run_jvm(root, cp, args, inputs, work):
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--inputs", inputs, "--work", work, "--cores", str(CORES),
              "--setup-reps", str(SETUP_REPS)])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True)
    try:
        _, err = proc.communicate(timeout=JVM_TIMEOUT_S)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if proc.returncode != 0:
        sys.stderr.write(err[-6000:])
        fail(f"benchmark JVM exited with {proc.returncode}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, GRAFT_SRC)):
        fail(f"no graft sources under {GRAFT_SRC}: run from the root of a graft checkout")
    cp = build(root)

    work = os.path.join(root, BUILD_DIR, "work", args.workload)
    inputs = os.path.join(work, "inputs")
    shutil.rmtree(work, ignore_errors=True)
    t0 = time.time()
    props = gen.generate(args.workload, args.seed, inputs)
    gen_s = time.time() - t0
    try:
        res = run_jvm(root, cp, args, inputs, work)
        attempted, failed, notes = check.run(inputs, res["checks"])
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # graft's set-up only: generation is the benchmark's own numpy work, and
    # is reported apart as generate_s
    setup_s = statistics.median(res["setup_s"])
    report = dict(res["report"], live_heap_mb=res["e2e"]["live_heap_mb"])
    report.update(failed_ops_ratio=failed / max(1, attempted), attempted=attempted,
                  failed=failed, setup_reps_s=res["setup_s"], generate_s=gen_s,
                  inputs={k: {"rows": v.get("rows", v.get("rows_per_op")), "bytes": v.get("bytes")}
                          for k, v in props["tables"].items()})
    for n in notes[:5]:
        print(f"perfbench: check failed: {n}", file=sys.stderr)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                      "report": report}, sort_keys=True))
    if args.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)}
                   for k, v in sorted(res["layers"].items())}
    else:
        e2e = dict(res["e2e"], setup_s=setup_s)
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    missing = [k for k, m in metrics.items() if not isinstance(m["value"], (int, float))]
    if missing:
        fail(f"not measured: {', '.join(missing)}")
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
