#!/usr/bin/env python3
"""Ad-report pipeline benchmark: one command, run from the repository root.

    python3 perfbench/run.py --workload adetl_daily --seed 1 --seconds 15 --trace 0

Compiles the library and the benchmark harness with scalac on first use
(the classes are cached under .bench_build/), then runs the workload in a
fresh JVM, checks every output, and prints one JSON result as the last line of
stdout. See perfbench/README.md for the workloads and metrics.
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
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("adetl_daily", "adetl_backfill")
HEAP = "2g"
STEAL_POISON_PCT = 0.5
JVM_TIMEOUT_S = 170
# the JVM starts no unit that would likely end later than this after launch
JVM_BUDGET_S = 130
BUILD_TIMEOUT_S = 600

# Spark on JDK 17 outside spark-submit needs these (the library's build.sbt
# sets the same list for its forked runs and tests)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# what the compiled classes depend on: the library's and the harness's
# sources, and the build file that names the jar directory
BUILD_INPUTS = ["build.sbt", "src/main", "perfbench/src/main"]
SOURCE_DIRS = ["src/main/scala", "perfbench/src/main/scala"]
RESOURCES = "perfbench/src/main/resources"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_child(cmd, timeout, what, **kw):
    """Run `cmd` to completion; on a timeout, or any other way out of this
    script, kill it and wait for it to end. Returns (exit code, stdout)."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        fail(f"{what} exceeded {timeout} s")
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
    return p.returncode, out


def jar_dir():
    """The directory of Spark and Scala jars the library compiles against,
    as the library's build.sbt names it (`unmanagedBase := file("...")`)."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    d = os.path.join(ROOT, m.group(1)) if m else None
    if d is None or not os.path.isdir(d) or not any(f.startswith("scala-compiler-") for f in os.listdir(d)):
        fail("build.sbt's unmanagedBase names no directory with the Spark and scala-compiler jars")
    return d


def files_under(rel, suffix=""):
    path = os.path.join(ROOT, rel)
    if os.path.isfile(path):
        return [path]
    return sorted(os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if f.endswith(suffix))


def source_stamp(jars):
    h = hashlib.sha256()
    for f in (f for rel in BUILD_INPUTS for f in files_under(rel)):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(jars).encode())
    return h.hexdigest()


def classpath():
    """Compile the library and the harness with scalac when the sources
    changed; return the runtime classpath.

    The compiler is the scala-compiler jar among the library's jars, run in a
    plain JVM, so the build needs neither sbt nor a dependency cache and
    writes only under .bench_build/.
    """
    jd = jar_dir()
    jars = sorted(os.path.join(jd, f) for f in os.listdir(jd) if f.endswith(".jar"))
    jar_cp = os.pathsep.join(jars)
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp(jars)
    cp = os.pathsep.join([os.path.join(ROOT, RESOURCES), classes, jar_cp])
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return cp
    fresh = classes + ".tmp"
    shutil.rmtree(fresh, ignore_errors=True)
    os.makedirs(fresh)
    sources = [f for rel in SOURCE_DIRS for f in files_under(rel, ".scala")]
    args_file = os.path.join(BUILD, "scalac.args")
    with open(args_file, "w") as f:
        f.write("".join(f'"{src}"\n' for src in sources))
    cmd = ["java", "-Xss8m", "-Xmx1g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD}",
           "-cp", jar_cp, "scala.tools.nsc.Main", "-nowarn", "-d", fresh, "-classpath", jar_cp,
           "@" + args_file]
    print(f"perfbench: compiling {len(sources)} Scala sources ...", file=sys.stderr, flush=True)
    code, out = run_child(cmd, BUILD_TIMEOUT_S, "scalac", cwd=ROOT, stderr=subprocess.STDOUT)
    if code != 0:
        sys.stderr.write(out[-4000:])
        fail(f"scalac failed (exit {code})")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(fresh, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def cpu_times():
    """(steal, total) jiffies over all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]; guest
    # time is already counted in user/nice
    return fields[7], sum(fields[:8])


def steal_pct(before, after):
    d_total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / d_total if d_total > 0 else 0.0


def load1():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a SIGTERM must still stop the child JVMs (run_child's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    for rel in ("build.sbt", "src/main/scala/graft", "fixtures"):
        if not os.path.exists(os.path.join(ROOT, rel)):
            fail(f"{rel} not found under {ROOT}: run from a full checkout of the repository")
    if shutil.which("java") is None:
        fail("java must be on PATH")
    os.makedirs(BUILD, exist_ok=True)
    cp = classpath()

    work = os.path.join(BUILD, f"run-{os.getpid()}")
    # a fixed-size heap: with a growable one, peak RSS follows the collector's
    # sizing decisions and swings by a third between identical runs
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}",
           "-Dfile.encoding=UTF-8"]
    cmd += [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work,
            "--fixtures", os.path.join(ROOT, "fixtures")]
    if args.trace:
        cmd += ["--spans", os.path.join(BUILD, "trace", f"{args.workload}-seed{args.seed}.jsonl")]
    # Spark binds to loopback whatever the host's network looks like
    env = dict(os.environ, LC_ALL="C.UTF-8", LANG="C.UTF-8",
               SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")

    load_before = load1()
    cpu_before = cpu_times()
    cmd += ["--budget-s", str(JVM_BUDGET_S), "--launch-ns", str(time.time_ns())]
    try:
        code, out = run_child(cmd, JVM_TIMEOUT_S, "benchmark JVM", cwd=ROOT, env=env)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    cpu_after = cpu_times()

    result = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH "):
            result = json.loads(line[len("PERFBENCH "):])
        else:
            print(line)
    if code != 0 or result is None:
        fail(f"benchmark JVM exited with {code} and no result")

    steal = steal_pct(cpu_before, cpu_after)
    poisoned = steal > STEAL_POISON_PCT
    info = result.pop("info")
    info.update(steal_pct=round(steal, 3), load1=load_before, steal_poisoned=poisoned,
                fail_frac=result["failed"] / result["attempted"])
    print("perfbench: " + " ".join(f"{k}={v}" for k, v in info.items()))
    if poisoned:
        print(f"perfbench: STEAL-POISONED run (steal {steal:.2f}% > {STEAL_POISON_PCT}%): "
              "do not compare its timings", file=sys.stderr)
    if args.trace:
        result["metrics"]["host.steal_pct"] = {"value": steal, "unit": "%"}
        result["metrics"]["host.load1"] = {"value": load_before, "unit": "count"}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
