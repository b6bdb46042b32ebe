#!/usr/bin/env python3
"""Run one benchmark workload and print every metric as `name value unit`,
then one JSON result line.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 20 --trace 0

The harness classpath is built once with sbt (`writeLaunch` in
perfbench/build.sbt) and rebuilt only when a source or build file is newer;
the run itself launches `java` on it directly, so neither sbt start-up nor
compilation is timed. Each run works in a fresh directory under
perfbench/target/runs and deletes it at the end. Exits non-zero when an
operation failed or an output was wrong.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LAUNCH = os.path.join(HERE, "target", "launch")
WORKLOADS = ("ingest", "incremental")
HEAP = "768m"
JVM_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def newest_source_mtime():
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        newest = max(newest, os.path.getmtime(f))
    return newest


def build():
    cp = os.path.join(LAUNCH, "classpath.txt")
    if os.path.exists(cp) and os.path.getmtime(cp) >= newest_source_mtime():
        return
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                          cwd=HERE, stdout=sys.stderr, stderr=sys.stderr)
    if proc.returncode != 0 or not os.path.exists(cp):
        fail("sbt build failed")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--inject", choices=("throw", "corrupt"),
                    help="make the first timed operation throw, or report a wrong output")
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources not found next to the benchmark")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found")
    with open(spec_path) as f:
        spec = json.load(f)
    wanted = [m["name"] for m in spec["per_layer" if a.trace == "1" else "end_to_end"]]

    build()
    with open(os.path.join(LAUNCH, "classpath.txt")) as f:
        classpath = f.read().strip()
    with open(os.path.join(LAUNCH, "jvm-options.txt")) as f:
        jvm_options = [line for line in f.read().splitlines() if line]

    work = os.path.join(HERE, "target", "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", *jvm_options,
           "-cp", classpath, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--workdir", work,
           "--trace-out", os.path.join(HERE, "target", "traces"),
           "--launch-ms", str(int(time.time() * 1000))]
    if a.inject:
        cmd += ["--inject", a.inject]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True)

    def stop(why):
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(why)

    signal.signal(signal.SIGTERM, lambda *_: stop("terminated"))
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop(f"benchmark JVM did not finish within {JVM_TIMEOUT_S} s")
    except KeyboardInterrupt:
        stop("interrupted")
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        fail(f"benchmark JVM exited with {proc.returncode} and no result")
    res = json.loads(lines[-1])

    metrics = {k: v for k, v in res["metrics"].items() if k in wanted}
    missing = [k for k in wanted if k not in metrics]
    for k, v in sorted(res["info"].items()):
        print(f"info.{k} {v}")
    for e in res["errors"]:
        print(f"error {e}")
    attempted, failed = res["attempted"], res["failed"]
    print(f"error_rate {failed / max(1, attempted)} ratio")
    for k in wanted:
        if k in metrics:
            print(f"{k} {metrics[k]['value']} {metrics[k]['unit']}")
    correct = bool(res["correct"]) and failed == 0 and not missing
    if missing:
        print(f"error metrics missing: {' '.join(missing)}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
