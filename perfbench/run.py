#!/usr/bin/env python3
"""Seeded load benchmark for graft: builds graft from this checkout, generates
one workload's inputs from a seed, runs the workload's flow end to end
through graft's public API in one local Spark process, checks every output,
and prints the metrics as one JSON object on the last line of stdout.

    python3 perfbench/run.py --workload variant_load --seed 1 --seconds 10 --trace 0

Workloads: variant_load, corpus_curate, graph_rounds.
--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones (see
perfbench/README.md). Everything the run writes stays under .bench_build
(classes) and .bench_work (inputs, outputs, spans) in the checkout.
"""
import argparse
import json
import os
import signal
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ["variant_load", "corpus_curate", "graph_rounds"]
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"],
                    help="all: only with --generate-only")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--scale", choices=["full", "tiny"], default="full",
                    help="input size; tiny is for the benchmark's own tests")
    ap.add_argument("--corrupt", help="delete part of this output before the "
                    "checks (tests that a corrupted output fails)")
    ap.add_argument("--generate-only", metavar="DIR",
                    help="only generate the inputs, into DIR/<workload>")
    a = ap.parse_args()
    if a.workload == "all" and not a.generate_only:
        ap.error("--workload all needs --generate-only")

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        print("run.py: graft sources (src/main/scala/graft) are missing from "
              "this checkout", file=sys.stderr)
        return 2
    code = build.build()

    work = os.path.join(ROOT, ".bench_work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed, pre-touched heap: the collector never resizes it mid-run,
    # which otherwise varies the time of the first repetitions
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-Xss4m",
            "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + tmp,
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", build.classpath(), "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--work", work, "--scale", a.scale, "--code", code[:12]])
    if a.corrupt:
        cmd += ["--corrupt", a.corrupt]
    if a.generate_only:
        cmd += ["--generate-only", os.path.abspath(a.generate_only)]

    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            start_new_session=True)
    timer = threading.Timer(JVM_TIMEOUT_S,
                            lambda: os.killpg(proc.pid, signal.SIGKILL))
    timer.start()
    result = None
    try:
        for raw in proc.stdout:
            line = raw.decode("utf-8", errors="replace").rstrip("\n")
            if line.startswith("RESULT "):
                result = line[len("RESULT "):]
            else:
                print(line, flush=True)
        rc = proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if rc != 0:
        print("run.py: benchmark process exited with %d" % rc, file=sys.stderr)
        return 1
    if a.generate_only:
        return 0
    if result is None:
        print("run.py: benchmark printed no result", file=sys.stderr)
        return 1
    obj = json.loads(result)
    assert set(obj) == {"correct", "attempted", "failed", "metrics"}, obj.keys()
    print(json.dumps(obj), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
