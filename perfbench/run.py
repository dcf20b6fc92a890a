#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the survey pipeline and the index lifecycle.

Run from the repository root:

    python3 perfbench/run.py --workload corridor_bundled --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --smoke
    python3 perfbench/run.py --pin-seeds 0-49 --workload corridor_bundled [--tiny]

Each call first brings the build of the program and of the measuring program
perfbench.Main up to date (perfbench/Makefile; the first call compiles both).
perfbench.Main generates its inputs from the seed, measures for the given
seconds, checks every output, and prints one JSON result as the last line of
standard output. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, ".out")
CLASSPATH = os.path.join(HERE, "target", "perfbench.classpath")
PINS = os.path.join(HERE, "expected", "pins.tsv")
WORKLOADS = ["corridor_bundled", "corridor_sparse", "reanalyze_interactive", "index_lifecycle"]
HEAP = "3g"
# Spark runs local[n] with n one less than the cores this process may use: the
# last core is left to the JVM's compiler, collector and driver threads, which
# otherwise preempt task threads (runs agreed less with a task thread per core)
CORES = max(1, len(os.sched_getaffinity(0)) - 1)
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170   # one measured run
LONG_TIMEOUT_S = 1800  # smoke check, pinning

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, for the revision hash of a checkout without git."""
    out = [os.path.join(HERE, "Makefile")]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for dirpath, _, files in os.walk(d):
            out += [os.path.join(dirpath, f) for f in files]
    return sorted(out)


def program_present():
    return (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala")))


def build():
    """Build the program and perfbench.Main (perfbench/Makefile) unless current."""
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        log_path = os.path.join(OUT, "build.log")
        # make runs in a process group of its own, so that on every way out
        # the compiler it started is stopped with it
        with open(log_path, "w") as log, subprocess.Popen(
                ["make", "-C", HERE], stdout=log, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, start_new_session=True) as p:
            try:
                p.wait(timeout=BUILD_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                fail("build timed out", 3)
            finally:
                if p.poll() is None:
                    os.killpg(p.pid, signal.SIGKILL)
                    p.wait()
        if p.returncode != 0 or not os.path.isfile(CLASSPATH):
            sys.stderr.write("".join(open(log_path).readlines()[-40:]))
            fail(f"build failed (log: {log_path})", 3)


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return None


def revision():
    """git HEAD when the checkout is a repository, else a content hash."""
    if os.path.exists(os.path.join(ROOT, ".git")):
        try:
            head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                  capture_output=True, text=True, timeout=10)
            if head.returncode == 0:
                return head.stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    h = hashlib.sha1()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return "tree-" + h.hexdigest()[:16]


def run_jvm(args, tag, timeout=RUN_TIMEOUT_S):
    """Run perfbench.Main; return (exit code, stdout lines)."""
    work = os.path.join(WORK, f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    # the throughput collector: G1's concurrent threads compete with the
    # local executor for the cores and made runs ~20 % slower and noisier
    cmd = (["java", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-XX:ActiveProcessorCount={CORES}",
            f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"] + args + ["--work", work, "--pins", PINS])
    log_path = os.path.join(OUT, f"{tag}.log")
    try:
        with open(log_path, "w") as log:
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log,
                               stdin=subprocess.DEVNULL, text=True, timeout=timeout)
        code, out = p.returncode, p.stdout
    except subprocess.TimeoutExpired as e:
        code, out = 124, e.stdout.decode() if isinstance(e.stdout, bytes) else (e.stdout or "")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        sys.stderr.write("".join(open(log_path).readlines()[-30:]))
    return code, out.splitlines()


def main():
    # a SIGTERM unwinds like an error, so the build and the JVM are stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny sizes, every check, one planted error")
    ap.add_argument("--pin-seeds", help="print expected results for seeds A-B")
    ap.add_argument("--tiny", action="store_true", help="with --pin-seeds: smoke sizes")
    a = ap.parse_args()

    if not program_present():
        fail("the program's sources (build.sbt, src/main/scala) are not here; nothing to measure")
    build()
    os.makedirs(OUT, exist_ok=True)

    if a.smoke:
        code, lines = run_jvm(["--smoke"], "smoke", LONG_TIMEOUT_S)
        print("\n".join(lines))
        sys.exit(code)
    if a.pin_seeds:
        if not a.workload:
            fail("--pin-seeds needs --workload")
        code, lines = run_jvm(["--pin-seeds", a.pin_seeds, "--workload", a.workload]
                                 + (["--tiny"] if a.tiny else []), f"pin-{a.workload}",
                                 LONG_TIMEOUT_S)
        print("\n".join(lines))
        sys.exit(code)
    if not a.workload:
        fail("--workload is required")

    load0 = loadavg()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    code, lines = run_jvm(["--workload", a.workload, "--seed", str(a.seed), "--seconds",
                              str(a.seconds), "--trace", str(a.trace)], tag)
    if code != 0 or not lines:
        fail(f"perfbench.Main exited with {code} (log: {os.path.join(OUT, tag + '.log')})", 1)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("perfbench.Main printed no result", 1)

    context = {}
    for l in lines[:-1]:
        if l.startswith("perfbench.context "):
            context = json.loads(l.split(" ", 1)[1])
    context.update({"loadavg_start": load0, "loadavg_end": loadavg(), "revision": revision(),
                    "heap": HEAP, "seconds": a.seconds,
                    "machine_nproc": len(os.sched_getaffinity(0))})
    with open(os.path.join(OUT, "results.jsonl"), "a") as f:
        f.write(json.dumps({"context": context, "result": result,
                            "spans": [l.split(" ", 1)[1] for l in lines
                                      if l.startswith("perfbench.spans ")]}) + "\n")
    print("perfbench.context " + json.dumps(context))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
