"""Runs one benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload panel_search --seed 1 --seconds 2 --trace 0
    python3 perfbench/run.py --selftest

Run from any directory; paths are resolved from this file. The program is
built from source first (see build.py). Each run gets a fresh root under
.bench_build/runs that holds its inputs, Spark scratch space and
streaming state, and is the JVM's working directory; it is removed at exit,
and a run that leaves anything behind fails. With --trace 1, the spans of
the traced passes are written to .bench_build/traces/.
"""

import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("panel_search", "panel_bulk", "dedup_ingest")
JVM_SECONDS = 170
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm(classes, jars, main, args, cwd, tmp):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp] + opens +
           ["-cp", classes + os.pathsep + os.path.join(jars, "*"), main] + args)
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=JVM_SECONDS)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit("perfbench: the run exceeded %d s and was stopped" % JVM_SECONDS)
    return proc.returncode, out.decode()


def commit():
    head = os.path.join(REPO, ".git")
    if os.path.exists(head):
        try:
            return subprocess.check_output(["git", "-C", REPO, "rev-parse", "HEAD"],
                                           stderr=subprocess.DEVNULL).decode().strip()
        except (OSError, subprocess.CalledProcessError):
            pass
    h = hashlib.sha256()
    for s in build.sources(REPO):
        with open(s, "rb") as f:
            h.update(f.read())
    return "tree-" + h.hexdigest()[:16]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    classes, jars = build.build(REPO)
    runs = os.path.join(REPO, build.BUILD_DIR, "runs")
    root = os.path.join(runs, "%s-%s-%d-%d" % (a.workload or "selftest", a.seed, os.getpid(), time.time_ns()))
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp)
    before = set(os.listdir(REPO))
    if a.selftest:
        main_class, args = "perfbench.SelfTest", []
    else:
        trace_out = os.path.join(REPO, build.BUILD_DIR, "traces", "%s-seed%d.json" % (a.workload, a.seed))
        main_class = "perfbench.Main"
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", repr(a.seconds),
                "--trace", str(a.trace), "--commit", commit(), "--trace-out", trace_out]
    try:
        rc, out = jvm(classes, jars, main_class, args, root, tmp)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    leftovers = sorted(set(os.listdir(REPO)) - before) + ([root] if os.path.exists(root) else [])
    if leftovers:
        sys.exit("perfbench: the run left files behind: %s" % ", ".join(leftovers))
    if rc != 0:
        sys.stderr.write(out)
        sys.exit("perfbench: the JVM exited with %d" % rc)
    lines = [l for l in out.splitlines() if l.strip()]
    results = [l for l in lines if l.startswith('{"correct"')]
    if not a.selftest and not results:
        sys.exit("perfbench: the JVM printed no result")
    for l in lines:
        if not results or l != results[-1]:
            print(l)
    if results:
        print(results[-1])


if __name__ == "__main__":
    main()
