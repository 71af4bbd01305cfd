#!/usr/bin/env python3
"""graft's benchmark: the paper's pipeline (text file -> token estimate ->
chunk -> memoized model map -> ordered combine) on seeded inputs.

    python3 perfbench/run.py --workload cold_latency --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest        # the generator tests
    python3 perfbench/run.py --catalog DIR [--warmup DIR]   # see Catalog.scala

Run from the root of a graft checkout. The first run builds graft and the
benchmark (see build.py). Each run is one JVM: set-up, then passes one at a
time for --seconds. It prints every metric of BENCHMARK.json by name and
unit, the end-to-end ones with --trace 0 and the per-layer ones with
--trace 1, and as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. It exits non-zero when an
output is wrong or the run fails. Scratch files, the JVM log and the traced
run's spans (trace.json) go to .bench_work/<workload>/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

# Pinned so peak_rss_mb compares like with like across runs. ParallelGC
# because under G1 peak_rss_mb spread 0.16 of its median across seeds and
# under ParallelGC 0.05.
HEAP = "2g"
# A run's JVM gets --seconds of passes plus this long for everything else:
# start-up, three set-ups, the warm-up passes, a traced run's estimate
# probes, the pass that overruns the deadline, and the checks. Together
# about 45 s at the default sizes on 4 vCPUs.
JVM_ALLOWANCE_S = 120
SELFTEST_TIMEOUT_S = 170
# Spark on JDK 17 outside spark-submit; the same list as graft's build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm(classpath, main, args, work, timeout):
    """Runs one JVM to completion, its output to work/jvm.log; returns rc."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [build.java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, main] + args
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            print(f"run: {main} exceeded {timeout} s", file=sys.stderr)
            return -1
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()


def log_tail(work, n=40):
    with open(os.path.join(work, "jvm.log"), errors="replace") as fh:
        return "".join(fh.readlines()[-n:])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--catalog", metavar="FIXTURE_DIR")
    ap.add_argument("--warmup", metavar="WARMUP_DIR")
    args = ap.parse_args()

    # A SIGTERM must still stop the JVM (see jvm()).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    workloads = [w["name"] for w in spec["workloads"]]
    if not (args.selftest or args.catalog) and args.workload not in workloads:
        ap.error(f"--workload must be one of {workloads}")

    classpath = build.build()
    mode = "selftest" if args.selftest else "catalog" if args.catalog else args.workload
    work = os.path.abspath(os.path.join(".bench_work", mode))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    if args.selftest:
        rc = jvm(classpath, "graftbench.GenCheck", [], work, SELFTEST_TIMEOUT_S)
        sys.stdout.write(log_tail(work, 100))
        sys.exit(rc)
    if args.catalog:
        rc = jvm(classpath, "graftbench.Catalog",
                 [args.catalog, args.warmup or args.catalog, work], work, 3600)
        if rc != 0:
            sys.stderr.write(log_tail(work))
            sys.exit(f"run: the catalog JVM exited with {rc}")
        with open(os.path.join(work, "catalog.json")) as fh:
            print(fh.read())
        sys.exit(0)

    rc = jvm(classpath, "graftbench.Main",
             ["--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work],
             work, JVM_ALLOWANCE_S + 2 * args.seconds)
    if rc != 0:
        sys.stderr.write(log_tail(work))
        sys.exit(f"run: the benchmark JVM exited with {rc}")
    with open(os.path.join(work, "result.json")) as fh:
        result = json.load(fh)

    wanted = spec["per_layer" if args.trace else "end_to_end"]
    got = result["metrics"]
    if sorted(got) != sorted(m["name"] for m in wanted):
        sys.exit(f"run: metrics {sorted(got)} do not match BENCHMARK.json")
    metrics = {m["name"]: {"value": got[m["name"]], "unit": m["unit"]} for m in wanted}
    for name, m in metrics.items():
        print(f"{args.workload:14s} {name:28s} {m['value']} {m['unit']}")
    print(f"{args.workload:14s} passes={result['passes']} attempted={result['attempted']} "
          f"failed={result['failed']} correct={result['correct']}")
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
