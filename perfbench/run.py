#!/usr/bin/env python3
"""End-to-end benchmark of graft: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 8 --trace 0

Run from the repository root. The first run compiles graft's sources
(src/main/scala) together with the benchmark's own (perfbench/src) into
$CARGO_TARGET_DIR (default .bench_build); later runs reuse the classes
while the sources are unchanged. Each run starts a fresh JVM, so no
repetition can be served by an earlier run's in-memory caches.

With --trace 0 the last stdout line carries the end-to-end metrics of
BENCHMARK.json; with --trace 1 it carries the per-layer metrics, and the
span file is kept under the build directory.

    python3 perfbench/run.py --check-generator

runs the input generator's own test instead (same seed gives identical
bytes, different seeds differ, planted counts match the stated rates).
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BUDGET_S = 170  # a run must end within 180 s; keep a margin for cleanup
WORKLOADS = ("serve", "curate")

# build.sbt's javaOptions: JDK-17 module opens for Spark, G1, the 1 GiB
# reserved code cache (the JIT code-cache cliff), UI off, UTC.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm_flags(work):
    flags = []
    for p in ADD_OPENS:
        flags += ["--add-opens", p + "=ALL-UNNAMED"]
    return flags + [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Xmx" + os.environ.get("SPARK_DRIVER_MEM", "4g"),
        "-XX:+UseG1GC",
        "-XX:ReservedCodeCacheSize=" + os.environ.get("SPARK_CODE_CACHE", "1g"),
        # keep every write inside the run directory: temp files here, and
        # no hsperfdata file in the system temp directory
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-XX:-UsePerfData",
    ]


def cpu_ticks():
    """(steal, total) CPU ticks of the machine so far: steal is time the
    hypervisor gave this VM's CPUs to other guests."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:]]
    return (t[7] if len(t) > 7 else 0), sum(t)


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def jar_dir(root):
    """The Spark/Scala jar directory build.sbt compiles against."""
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    cands = [m.group(1)] if m else []
    if os.environ.get("SPARK_HOME"):
        cands.insert(0, os.path.join(os.environ["SPARK_HOME"], "jars"))
    for c in cands:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return c
    fail("no Spark jar directory with a Scala compiler (build.sbt unmanagedBase or SPARK_HOME)")


def sources(root):
    srcs = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    srcs += sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    return srcs


def build(root, out_root, jars):
    """Compile graft + the benchmark once per source digest."""
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    classes = os.path.join(out_root, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    os.makedirs(out_root, exist_ok=True)
    for old in glob.glob(os.path.join(out_root, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = classes + ".tmp%d" % os.getpid()
    os.makedirs(tmp)
    argfile = os.path.join(out_root, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    t0 = time.time()
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + out_root,
         "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
         "-d", tmp, "-cp", cp, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=800)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        fail("compile failed")
    os.rename(tmp, classes)
    print("perfbench: compiled %d sources in %.1f s" % (len(srcs), time.time() - t0),
          file=sys.stderr)
    return classes


def run_jvm(main, args, classes, jars, work, deadline):
    """Run one JVM to completion (or kill it at the deadline); return its
    stdout lines, or None if it failed or ran out of time."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java"] + jvm_flags(work) + ["-cp", classes + os.pathsep + os.path.join(jars, "*"),
                                        main] + args
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "wb") as log:
        # Spark's scratch space is the run directory (spark.local.dir), which
        # an inherited SPARK_LOCAL_DIRS would override
        env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, env=env)
        try:
            out, _ = p.communicate(timeout=max(5.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            print("perfbench: run exceeded its time budget", file=sys.stderr)
            return None
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if p.returncode != 0:
        with open(log_path, "rb") as f:
            sys.stderr.write(f.read().decode(errors="replace")[-6000:])
        print("perfbench: JVM exited with %d" % p.returncode, file=sys.stderr)
        return None
    return out.decode(errors="replace").splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--check-generator", action="store_true")
    a = ap.parse_args()
    # a terminated run still unwinds, so the JVM child is killed and reaped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(root, "src/main/scala/graft")):
        fail("graft's sources (src/main/scala/graft) are not here; run from the repository root")
    if not os.path.isfile(spec_path) or not os.path.isfile(os.path.join(root, "build.sbt")):
        fail("BENCHMARK.json and build.sbt must be in the working directory")
    if not a.check_generator and not a.workload:
        fail("--workload is required")
    with open(spec_path) as f:
        spec = json.load(f)

    out_root = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    jars = jar_dir(root)
    classes = build(root, out_root, jars)
    cores = max(1, min(4, len(os.sched_getaffinity(0))))
    label = "gencheck" if a.check_generator else "%s-%d" % (a.workload, a.seed)
    work = os.path.join(out_root, "runs", "%s-%d" % (label, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # the JVM's budget starts after any build (a first run may build)
    deadline = time.time() + BUDGET_S
    ticks0 = cpu_ticks()
    try:
        if a.check_generator:
            lines = run_jvm("perfbench.GenCheck", ["--work", work], classes, jars, work, deadline)
            if lines is None:
                sys.exit(1)
            print("\n".join(lines))
            sys.exit(0 if lines and lines[-1] == "GENCHECK OK" else 1)
        lines = run_jvm("perfbench.Bench",
                        ["--workload", a.workload, "--seed", str(a.seed),
                         "--seconds", str(a.seconds), "--trace", str(a.trace),
                         "--work", work, "--cores", str(cores)],
                        classes, jars, work, deadline)
        if lines is None:
            sys.exit(1)
        res = [l for l in lines if l.startswith("PERFBENCH_RESULT ")]
        if not res:
            fail("the JVM printed no result")
        r = json.loads(res[-1][len("PERFBENCH_RESULT "):])
        if a.trace:
            keep = os.path.join(out_root, "spans-%s.json" % label)
            if os.path.exists(os.path.join(work, "spans.json")):
                shutil.copyfile(os.path.join(work, "spans.json"), keep)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    steal, total = (b - a for a, b in zip(ticks0, cpu_ticks()))
    r["info"]["host_steal_pct"] = round(100.0 * steal / max(1, total), 2)

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        src = r["layers"] if a.trace else r["metrics"]
        v = src.get(m["name"])
        if v is None and not a.trace:
            fail("metric %s missing from the run" % m["name"])
        metrics[m["name"]] = {"value": float(v or 0.0), "unit": m["unit"]}

    # human-readable report first: every metric with its unit, the error
    # rate, and the run's facts
    for k, v in metrics.items():
        print("%-36s %16.4f %s" % (k, v["value"], v["unit"]))
    print("%-14s %14.6f (failed %d of %d attempted)" %
          ("error_rate", r["error_rate"], r["failed"], r["attempted"]))
    for f in r["failures"]:
        print("failure: " + f)
    print("info " + json.dumps(r["info"], sort_keys=True))
    if a.trace:
        print("spans " + os.path.join(out_root, "spans-%s.json" % label))
    print(json.dumps({"correct": r["failed"] == 0, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
