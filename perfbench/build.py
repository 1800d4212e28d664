"""Build file of the benchmark: compiles graft's main sources and the
benchmark's own Scala sources into one class directory.

It calls the Scala compiler that ships with the Spark distribution
(no sbt, no dependency resolution), and skips the build when a stamp of
the sources matches the last successful one.

    python3 perfbench/build.py          # build if stale, print the class dir
"""

import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
COMPILE_TIMEOUT_S = 600
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")


class BenchError(Exception):
    pass


def run_child(cmd, timeout, **kw):
    """Run cmd in its own process group; return (returncode, stdout).

    The group is killed and reaped however this returns, so no child
    outlives the benchmark, also when a signal handler raises.
    """
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        raise BenchError("%s timed out after %d s" % (cmd[0], timeout))
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()


def sources():
    graft = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(graft, "graft")):
        raise BenchError("graft sources not found under %s" % graft)
    found = []
    for top in (graft, os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update(" ".join(sorted(os.listdir(SPARK_JARS))).encode())
    return h.hexdigest()


def classpath(classes):
    return classes + os.pathsep + os.path.join(SPARK_JARS, "*")


def build(log=sys.stderr):
    """Compile if stale; return the class directory."""
    files = sources()
    if not os.path.isdir(SPARK_JARS):
        raise BenchError("Spark jars not found; set SPARK_HOME")
    want = stamp(files)
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                return classes
    os.makedirs(OUT, exist_ok=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    print("[perfbench] compiling %d sources" % len(files), file=log, flush=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp", "-d", tmp, "@" + argfile]
    code, out = run_child(cmd, COMPILE_TIMEOUT_S, stderr=subprocess.STDOUT)
    if code != 0:
        raise BenchError("scalac failed:\n" + out.decode(errors="replace")[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(want + "\n")
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BenchError as e:
        print(e, file=sys.stderr)
        sys.exit(1)
