"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload gql_session --seed 1 --seconds 4 --trace 0

Builds graft and the benchmark from source on first use (see build.py),
then runs perfbench.Main in a fresh JVM against a local[2] Spark session.
The last line of standard output is
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics (--trace 0) or the per-layer ones (--trace 1).

--smoke runs every workload on the smallest data set with one set-up,
for the benchmark's own tests. The data sets are copies of graft's test
data under perfbench/data: sf0.01 holds the tables the graph projection
reads, sf0.001 those and the documents table.
"""

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = {
    # workload: (data set, set-ups per run)
    "gql_session": ("sf0.01", 3),
    "view_maintain": ("sf0.001", 3),
}
HEAP = "3g"
SMOKE_DATA = "sf0.001"
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--smoke", action="store_true")
    return p.parse_args(argv)


def run(args):
    classes = build.build()
    sf, setups = WORKLOADS[args.workload]
    data = os.path.join(HERE, "data", SMOKE_DATA if args.smoke else sf)
    if not os.path.isdir(data):
        raise build.BenchError("data set not found: %s" % data)
    if args.smoke:
        setups = 1

    work = os.path.join(build.OUT, "run-%s-%d-%d-%d" % (args.workload, args.seed,
                                                         args.trace, os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    trace_out = os.path.join(build.OUT, "trace-%s-%d.json" % (args.workload, args.seed))
    # no hsperfdata file: it would go to the system temp dir
    cmd = ["java", "-XX:-UsePerfData", "-Xms" + HEAP, "-Xmx" + HEAP, "-Xss8m"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    cmd += [
        "-Djava.io.tmpdir=" + tmp,
        "-Dspark.local.dir=" + os.path.join(work, "spark-local"),
        "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
        "-Dderby.system.home=" + work,
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", build.classpath(classes), "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", data, "--setups", str(setups), "--trace-out", trace_out,
    ]
    log_path = os.path.join(build.OUT, "last-%s.log" % args.workload)
    env = dict(os.environ, TMPDIR=tmp)
    try:
        with open(log_path, "wb") as log:
            code, out = build.run_child(cmd, JVM_TIMEOUT_S, cwd=work, stderr=log, env=env)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.decode(errors="replace").splitlines() if l.strip()]
    if code != 0 or not lines:
        with open(log_path, errors="replace") as fh:
            tail = fh.read()[-3000:]
        raise build.BenchError("benchmark JVM failed (%d):\n%s" % (code, tail))
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise build.BenchError("unexpected result line: %s" % lines[-1])
    return result


def _stopped(signum, _frame):
    raise build.BenchError("stopped by signal %d" % signum)


def main(argv):
    args = parse_args(argv)
    signal.signal(signal.SIGTERM, _stopped)
    t0 = time.time()
    try:
        result = run(args)
    except build.BenchError as e:
        print("[perfbench] %s" % e, file=sys.stderr)
        return 2
    print("[perfbench] %s seed %d done in %.1f s" % (args.workload, args.seed,
                                                     time.time() - t0), file=sys.stderr)
    for name, m in result["metrics"].items():
        print("  %-42s %14.4f %s" % (name, m["value"], m["unit"]), file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
