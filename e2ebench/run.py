#!/usr/bin/env python3
"""End-to-end benchmark of the crawl lifecycle and the corpus export.

Run from the repository root:

    python3 e2ebench/run.py --workload crawl --seed 1 --seconds 30 --trace 0
    python3 e2ebench/run.py --selftest

The first call compiles the program (src/main/scala) together with the
harness (e2ebench/src) into .bench_build/e2ebench, with the Scala
compiler from the Spark jar directory that build.sbt names. Later calls
reuse the classes while no source changes. A run then launches plain
`java` processes (no sbt), one cold pass of the workload each, until
--seconds have passed (at least one); each writes its report under
.bench_build/e2ebench/runs. A traced run launches an untraced and a
traced one. This script prints each process's environment record and,
as its last line, the result: the median of each metric over the
processes, {"correct": ..., "attempted": ..., "failed": ...,
"metrics": {...}}.
"""
import argparse
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
ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build", "e2ebench")
WORKLOADS = ("crawl", "corpus")
CORES = 4
HEAP = "2g"
# the JVM's perf-data file would go to the system temp directory,
# outside the checkout
NO_PERF_DATA = "-XX:-UsePerfData"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
# the module opens Spark needs on JDK 17 outside spark-submit
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


def die(msg):
    print(f"e2ebench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark jar directory: build.sbt's unmanagedBase, else $SPARK_HOME/jars."""
    cands = []
    build = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(build):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(build).read())
        if m:
            cands.append(m.group(1))
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for d in cands:
        if os.path.isdir(d) and any(f.startswith("scala-compiler") for f in os.listdir(d)):
            return d
    die("no Spark jar directory with a Scala compiler (build.sbt unmanagedBase or $SPARK_HOME/jars)")


def sources():
    prog = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isfile(os.path.join(prog, "graft", "Main.scala")):
        die("run from the root of a checkout: src/main/scala/graft/Main.scala is missing")
    files = []
    for base in (prog, os.path.join(ROOT, "src", "main", "java"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    return sorted(files)


def build(jars):
    """Compile program and harness once per source tree; returns the classpath."""
    files = sources()
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(f.encode())
        h.update(open(f, "rb").read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    classes = os.path.join(OUT, "classes-" + h.hexdigest()[:16])
    resources = os.path.join(ROOT, "src", "main", "resources")
    cp = [classes, resources, os.path.join(jars, "*")]
    if os.path.isfile(os.path.join(classes, ".done")):
        return cp
    os.makedirs(OUT, exist_ok=True)
    for old in os.listdir(OUT):
        if old.startswith("classes-"):
            shutil.rmtree(os.path.join(OUT, old), ignore_errors=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    jcp = os.path.join(jars, "*")
    log = os.path.join(OUT, "build.log")
    t0 = time.time()
    steps = [["java", NO_PERF_DATA, "-Xss8m", "-Xmx3g", "-cp", jcp, "scala.tools.nsc.Main", "-nowarn",
              "-classpath", jcp, "-d", tmp, "@" + argfile]]
    javas = [f for f in files if f.endswith(".java")]
    if javas:
        steps.append(["javac", "-J" + NO_PERF_DATA, "-nowarn", "-cp", tmp + os.pathsep + jcp, "-d", tmp] + javas)
    with open(log, "w") as lf:
        for cmd in steps:
            rc = run_proc(cmd, lf, lf, BUILD_TIMEOUT_S)
            if rc != 0:
                sys.stderr.write(open(log).read()[-4000:])
                die(f"build failed (exit {rc}); log in {log}")
    open(os.path.join(tmp, ".done"), "w").close()
    os.rename(tmp, classes)
    print(f"e2ebench: built {len(files)} sources in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


def run_proc(cmd, stdout, stderr, timeout):
    """Run a child in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, stdout=stdout, stderr=stderr, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def java(cp, main, args, timeout):
    work = os.path.join(OUT, "work", f"{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (["java"] + [x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           [NO_PERF_DATA, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=1g",
            "-Dspark.callstack.depth=200",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "conf", "log4j2.properties"),
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-cp", os.pathsep.join(cp), main] + args + ["--work", work, "--repo", ROOT])
    try:
        return run_proc(cmd, None, None, timeout)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def harness(cp, a, trace, k, deadline):
    """One fresh JVM: session, one pass, report. Returns the report, or
    None when the harness ended without one."""
    out = os.path.join(OUT, "runs", f"{a.workload}-seed{a.seed}-trace{trace}-{k}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    if os.path.exists(out):
        os.remove(out)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--trace", str(trace),
            "--cores", str(CORES), "--out", out]
    rc = java(cp, "graftbench.Main", args, max(1, deadline - time.time()))
    if rc != 0 or not os.path.isfile(out):
        print(f"e2ebench: harness exited {rc} without a report", file=sys.stderr)
        return None
    rep = json.load(open(out))
    print("e2ebench env: " + json.dumps(rep["env"], sort_keys=True))
    print(f"e2ebench report: {out}")
    return rep


def median(xs):
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        die("BENCHMARK.json is missing; run from the root of a checkout")
    cp = build(spark_jars())
    if a.selftest:
        sys.exit(java(cp, "graftbench.SelfTest", [], RUN_TIMEOUT_S))
    if not a.workload:
        die("--workload is required")
    declared = json.load(open(spec_path))["per_layer" if a.trace else "end_to_end"]
    t0 = time.time()
    deadline = t0 + RUN_TIMEOUT_S
    reps = []
    if a.trace:
        # an untraced pass, then a traced one, each in a fresh JVM; the
        # overhead is the difference of their timed regions
        reps = [harness(cp, a, 0, 0, deadline), harness(cp, a, 1, 0, deadline)]
        base, traced = reps
        if not (base and traced and base["metrics"] and traced["metrics"]):
            die("a pass ended without figures")
        got = dict(traced["metrics"], **{"trace.overhead_s": traced["timed_s"] - base["timed_s"]})
    else:
        # fresh JVMs until --seconds have passed, at least one; a JVM is
        # not started when the last one's time would overrun the deadline
        while not reps or (time.time() - t0 < a.seconds and
                           2 * time.time() - last < deadline - 10):
            last = time.time()
            reps.append(harness(cp, a, 0, len(reps), deadline))
        measured = [r["metrics"] for r in reps if r and r["metrics"]]
        if not measured:
            die("no pass ended with figures")
        got = {m: median([x[m] for x in measured]) for m in measured[0]}
    missing = [m["name"] for m in declared if m["name"] not in got]
    if missing:
        die(f"report lacks declared metrics {missing}")
    failed = sum(1 for r in reps if not (r and r["correct"]))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(reps),
        "failed": failed,
        "metrics": {m["name"]: {"value": got[m["name"]], "unit": m["unit"]} for m in declared},
    }))


if __name__ == "__main__":
    main()
