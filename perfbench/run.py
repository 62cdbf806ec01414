"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload etl_curation --seed 1 --seconds 1 --trace 0

Builds the program from source if needed (before any timing), generates
the workload's inputs from the seed (three times, as part of the set-up
time, whose median counts), runs one JVM that drives the program
through a cold round and then steady rounds for `--seconds` (at least
one), checks the outputs against independent computations, and prints
`{"correct", "attempted", "failed", "metrics"}` as the last line. With
`--trace 0` the metrics are the end-to-end metrics, with `--trace 1` the
per-layer metrics. Everything a run writes stays under `.bench_build/`.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import report  # noqa: E402

RUN_LIMIT_S = 170
JVM_FLAGS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    # a fixed heap, so peak resident memory does not follow the collector's
    # resizing; no perf-data file outside the run directory
    "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
    # call stacks deep enough to reach the layer frames (Ledger.layers)
    "-Dspark.callstack.depth=64"]
SETUP_ATTEMPTS = 3  # as perfbench.Main.SetupAttempts


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        cp = build.build()
    except build.BuildError as e:
        sys.exit(f"perfbench: {e}")
    started = time.time()  # a first run may build for longer; the limit is for the run

    run = build.BUILD / "runs" / f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    shutil.rmtree(run, ignore_errors=True)
    inputs, work = run / "inputs", run / "work"
    (run / "tmp").mkdir(parents=True)
    work.mkdir()
    try:
        gen_s = []
        for _ in range(SETUP_ATTEMPTS):
            shutil.rmtree(inputs, ignore_errors=True)
            t0 = time.time()
            gen.generate(a.workload, str(inputs), a.seed)
            gen_s.append(time.time() - t0)
        cmd = ["java", *JVM_FLAGS, f"-Djava.io.tmpdir={run / 'tmp'}", "-cp", cp,
               "perfbench.Main", a.workload, str(inputs), str(work), str(a.seconds),
               str(a.trace)]
        with open(run / "jvm.log", "w") as log:
            launch_ms = time.time() * 1000.0
            p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run)
            try:
                rc = p.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - started)))
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                sys.exit(f"perfbench: JVM exceeded the run limit; log in {run / 'jvm.log'}")
        if rc != 0 or not (work / "result.json").exists():
            tail = (run / "jvm.log").read_text(errors="replace").splitlines()[-40:]
            sys.exit("perfbench: JVM failed (exit %d):\n%s" % (rc, "\n".join(tail)))
        res = json.loads((work / "result.json").read_text())
        res["gen_s"] = statistics.median(gen_s)
        res["launch_ms"] = launch_ms
        metrics, wall = report.summarize(res, str(inputs), a.trace == 1)
        if wall:
            print("wall times (per-layer metrics, not gated): " +
                  " ".join(f"{k}={v:.4f}" for k, v in wall.items()))
        correct, problems = check.check(res, str(inputs))
        for msg in problems:
            print(f"check: {msg}")
        for msg in res["failures"]:
            print(f"failed operation: {msg}")
        print(json.dumps({"correct": correct, "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": metrics}))
    finally:
        shutil.rmtree(run, ignore_errors=True)


if __name__ == "__main__":
    main()
