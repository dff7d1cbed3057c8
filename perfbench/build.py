"""Build file of the benchmark.

Compiles the program's sources (src/main/scala) together with the
benchmark's own (perfbench/src) with the Scala compiler that ships among
Spark's jars, into .bench_build/classes-<digest>. The digest covers every
source file, so an unchanged tree reuses its classes and a changed one
rebuilds. Concurrent runs in one checkout build once, under a file lock.
"""

import fcntl
import hashlib
import os
import shutil
import subprocess
import sys

PROGRAM_SRC = os.path.join("src", "main", "scala")
BENCH_SRC = os.path.join("perfbench", "src")
BUILD_DIR = ".bench_build"


def spark_jars():
    """Directory of the Spark distribution's jars (SPARK_HOME, else the
    installation that provides spark-submit on PATH)."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        sys.exit("perfbench: no Spark installation found (set SPARK_HOME)")
    return jars


def sources(repo):
    found = []
    for top in (PROGRAM_SRC, BENCH_SRC):
        base = os.path.join(repo, top)
        if not os.path.isdir(base):
            sys.exit("perfbench: missing source directory %s" % top)
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def digest(repo, srcs, jars):
    h = hashlib.sha256()
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    for s in srcs:
        h.update(os.path.relpath(s, repo).encode() + b"\0")
        with open(s, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def build(repo):
    """Returns the classes directory, compiling first if needed."""
    jars = spark_jars()
    srcs = sources(repo)
    out_root = os.path.join(repo, BUILD_DIR)
    os.makedirs(out_root, exist_ok=True)
    out = os.path.join(out_root, "classes-" + digest(repo, srcs, jars))
    done = os.path.join(out, ".done")
    if os.path.exists(done):
        return out, jars
    with open(os.path.join(out_root, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(done):
            return out, jars
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(out_root, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        cp = os.path.join(jars, "*")
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
               "-usejavacp", "-nowarn", "-classpath", cp, "-d", tmp, "@" + argfile]
        rc = subprocess.call(cmd, stdout=sys.stderr)
        os.remove(argfile)
        if rc != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            sys.exit("perfbench: compilation failed (exit %d)" % rc)
        open(os.path.join(tmp, ".done"), "w").close()
        os.rename(tmp, out)
    return out, jars


if __name__ == "__main__":
    print(build(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))[0])
