#!/usr/bin/env python3
"""graft's benchmark: build the program from source, run one workload, print
one JSON result line.

Usage, from the repository root:

    python3 graftbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 graftbench/run.py --selftest

The program (src/main/scala) and the benchmark's own sources
(graftbench/scala) are compiled with the Scala compiler that ships in
Spark's jars directory ($SPARK_HOME/jars) into the build directory
($CARGO_TARGET_DIR, default .bench_build). A build is reused while no
source changes. The workload runs in one JVM on compiled classes, never
through sbt, so nothing but the result reaches standard output's last line.

The last line of standard output is
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with every end-to-end metric of BENCHMARK.json when --trace is 0, and every
per-layer metric when it is 1. The line before it carries the run's context
(nproc, heap size, load average at start and end, tail percentiles). A
traced run writes its spans to <build>/traces/. Nothing is printed as a
result, and the exit code is not 0, when the build or the run fails.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(1)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
        fail("SPARK_HOME must name a Spark install whose jars/ holds the Scala compiler")
    return os.path.join(home, "jars", "*")


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources(*dirs):
    out = []
    for d in dirs:
        out += sorted(glob.glob(os.path.join(ROOT, d, "**", "*.scala"), recursive=True))
    return out


def compile_once(name, srcs, classpath):
    """Compile `srcs` into <build>/<name>, unless a build of the same
    sources is there. Returns the class directory."""
    if not srcs:
        fail(f"no sources for {name}")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    h.update(classpath.encode())
    stamp = h.hexdigest()
    out = os.path.join(build_dir(), name)
    stamp_file = os.path.join(out, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.time()
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={build_dir()}",
           "-cp", spark_jars(), "scala.tools.nsc.Main",
           "-deprecation", "-nowarn", "-d", tmp, "-classpath", classpath] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail(f"compiling {name} failed")
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    print(f"graftbench: built {name} in {time.time() - t0:.1f}s", file=sys.stderr)
    return out


def build():
    program = sources("src/main/scala")
    if not program:
        fail("no program sources under src/main/scala")
    return compile_once("classes", program + sources(os.path.relpath(BENCH, ROOT) + "/scala"),
                        spark_jars())


def run_jvm(main, args, classes, work, extra_cp=""):
    cp = classes + (":" + extra_cp if extra_cp else "") + ":" + spark_jars()
    cmd = [java()] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}",
        "-cp", cp, main] + args
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S}s")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def cpu_times():
    """Aggregate (busy, steal) jiffies of the host, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
        return sum(v) - v[3] - v[4], v[7]
    except (OSError, ValueError, IndexError):
        return None


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--keep", action="store_true", help="keep the run's work directory")
    a = ap.parse_args()

    classes = build()
    tag = f"{a.workload or 'selftest'}-{a.seed}-{a.trace}-{os.getpid()}"
    work = os.path.join(build_dir(), "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.selftest:
            tests = compile_once("test-classes", sources(os.path.relpath(BENCH, ROOT) + "/test"),
                                 classes + ":" + spark_jars())
            code, out = run_jvm("graftbench.SelfTest", [], classes, work, tests)
            sys.stdout.write(out)
            sys.exit(code)
        if not a.workload:
            fail("--workload is required")
        want = expected_metrics(a.trace)
        cpu0 = cpu_times()
        code, out = run_jvm("graftbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work,
            "--data", os.path.join(BENCH, "data"),
            "--expected", os.path.join(BENCH, "expected")], classes, work)
        lines = [l for l in out.splitlines() if l.startswith("GRAFTBENCH_RESULT ")]
        if code != 0 or not lines:
            fail(f"workload {a.workload} exited {code} without a result")
        res = json.loads(lines[-1][len("GRAFTBENCH_RESULT "):])
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        if got != want:
            fail(f"metrics {sorted(got.items())} differ from BENCHMARK.json {sorted(want.items())}")
        for k, v in res["metrics"].items():
            if v["value"] is None:
                fail(f"metric {k} has no value")
        if a.trace:
            os.makedirs(os.path.join(build_dir(), "traces"), exist_ok=True)
            shutil.copy(os.path.join(work, "trace.jsonl"),
                        os.path.join(build_dir(), "traces", f"{a.workload}-{a.seed}.jsonl"))
        cpu1 = cpu_times()
        if cpu0 and cpu1 and cpu1[0] > cpu0[0]:
            # CPU time the hypervisor gave to other guests, as a share of busy time
            res["info"]["steal_pct"] = f"{100.0 * (cpu1[1] - cpu0[1]) / (cpu1[0] - cpu0[0]):.2f}"
        print(json.dumps({"info": res["info"]}, sort_keys=True))
        print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")},
                         sort_keys=True))
    finally:
        if not a.keep:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
