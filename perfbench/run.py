#!/usr/bin/env python3
"""Extraction benchmark of the graft engine: one run of one workload.

    python3 perfbench/run.py --workload web_crawl --seed 1 --seconds 12 --trace 0

Run from the repository root. The first run compiles the engine and the
benchmark (see build.py); every run then starts one JVM at local[P],
P = the processor count, which generates or reuses the seeded inputs,
sets up, runs the timed closed loop and checks every output row against
the golden text. The last line of standard output is one JSON object:
the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. The exit code is 0 only when every operation succeeded and
every page matched. Everything is written under .bench_build/perfbench.

    python3 perfbench/run.py --selftest    # the benchmark's unit tests
"""

import argparse
import json
import os
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("web_crawl", "doc_archive", "recrawl")
# A run must end within 180 s, so the JVM gets what is left of 170 s after
# the build check. A run that compiles (at most build.SCALAC_TIMEOUT_S per
# compile) may take longer; its JVM gets the full 170 s after the compile.
RUN_LIMIT_S = 170
# Seeds are taken modulo this, the range the generator's id space allows.
SEED_RANGE = 1 << 30

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm(classpath, main, args, timeout_s):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [build.java(), "-Xmx3g", "-Xms3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           "-Dlog4j.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(classpath), main] + args
    proc = subprocess.Popen(cmd, cwd=ROOT, start_new_session=True, env=build.jvm_env(),
                            stdout=subprocess.PIPE, text=True)
    timer = threading.Timer(timeout_s, os.killpg, (proc.pid, signal.SIGKILL))
    timer.start()
    last = ""
    try:
        for line in proc.stdout:
            sys.stdout.write(line)
            sys.stdout.flush()
            if line.strip():
                last = line
        rc = proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if rc < 0:
        print(f"perfbench: {main} stopped by signal {-rc}", file=sys.stderr)
    return rc, last


def check_names(result_line, section):
    """The result must carry exactly the metrics BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = {m["name"]: m["unit"] for m in json.load(fh)[section]}
    try:
        got = {k: v["unit"] for k, v in json.loads(result_line)["metrics"].items()}
    except (ValueError, KeyError, TypeError, AttributeError):
        print("perfbench: the last output line is not a result", file=sys.stderr)
        return False
    if got != declared:
        missing = sorted(set(declared.items()) - set(got.items()))
        extra = sorted(set(got.items()) - set(declared.items()))
        print(f"perfbench: metrics differ from BENCHMARK.json {section}: "
              f"missing {missing}, extra {extra}", file=sys.stderr)
        return False
    return True


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")
    t0 = time.monotonic()
    cp, compiled = build.build(ROOT, WORK, with_tests=a.selftest)
    limit = RUN_LIMIT_S if compiled else RUN_LIMIT_S - (time.monotonic() - t0)
    if a.selftest:
        return jvm(cp, "graft.perfbench.SelfTest", [], limit)[0]
    rc, last = jvm(cp, "graft.perfbench.Main",
                   ["--workload", a.workload, "--seed", str(a.seed % SEED_RANGE),
                    "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", WORK],
                   limit)
    if rc == 0 and not check_names(last, "per_layer" if a.trace else "end_to_end"):
        return 1
    return rc


if __name__ == "__main__":
    sys.exit(main())
