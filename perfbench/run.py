#!/usr/bin/env python3
"""One benchmark run of one workload, from the root of a spark-graft checkout.

    python3 perfbench/run.py --workload {rsvp_stream,artifact_serving,graph_loops}
                             --seed N --seconds S --trace {0,1}

Builds the program and the benchmark if needed (perfbench/build.py),
generates the workload's inputs from the seed, runs the workload in one JVM,
checks its outputs, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones (see README.md).
Everything the run writes goes to `.bench_work/` in the checkout and is
removed when it ends.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402

WORKLOADS = ("rsvp_stream", "artifact_serving", "graph_loops")
# Spark cores. Two, not all four of a 4-core box, so that the driver, stream
# and collector threads have cores of their own: with four, runs during host
# CPU steal came out 20-80% slower (README "Workloads"). It replaces any
# SPARK_GRAFT_CPUS of the environment, so every run uses the same.
CPUS = "2"
HEAP = "3g"
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
HARD_CODED_WAREHOUSE = "/tmp/graft_warehouse"


def expected_names(root, trace):
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def cpu_times():
    """(steal, total) jiffies of the machine, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f)


def run_jvm(classes, work, args, log_path):
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main"] + args
    env = dict(os.environ, SPARK_GRAFT_CPUS=CPUS)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=work)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        with open(log_path) as fh:
            tail = fh.read()[-4000:]
        raise SystemExit(f"perfbench: JVM exited with {code}\n{tail}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    names = expected_names(root, a.trace)
    classes = build.ensure(root)
    work = os.path.join(root, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.makedirs(os.path.join(work, "tmp"))
        data = os.path.join(work, "data", f"seed{a.seed}")
        if a.workload != "rsvp_stream":
            import gen_tables
            gen_tables.generate(data, a.seed)
            os.makedirs(os.path.join(work, "check"))
        out = os.path.join(work, "result.json")
        steal0 = cpu_times()
        run_jvm(classes, work, ["--workload", a.workload, "--seed", str(a.seed),
                                "--seconds", str(a.seconds), "--trace", str(a.trace),
                                "--work", work, "--data", data, "--out", out],
                os.path.join(work, "jvm.log"))
        steal1 = cpu_times()
        with open(out) as fh:
            res = json.load(fh)
        notes = res["notes"]
        notes["cpu_steal"] = f"{(steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]):.3f}"
        if a.workload != "rsvp_stream":
            import oracle
            t0 = time.time()
            verdicts = oracle.check(os.path.join(work, "check"), data, HARD_CODED_WAREHOUSE,
                                    os.path.join(work, "tmp-graft-warehouse"))
            bad = {q: why for q, why in verdicts.items() if why}
            for q, why in sorted(bad.items()):
                print(f"perfbench: oracle mismatch {q}: {why}", file=sys.stderr)
            # every measured call of a mismatching query is a failed operation
            res["failed"] = min(res["attempted"], res["failed"] + len(bad) * int(notes["passes"]))
            notes["oracle_checked"] = f"{len(verdicts) - len(bad)}/{len(verdicts)} in {time.time() - t0:.1f}s"
        print("perfbench: " + json.dumps(notes), file=sys.stderr)
        metrics = res["metrics"]
        if sorted(metrics) != sorted(names):
            raise SystemExit(f"perfbench: metrics {sorted(metrics)} do not match BENCHMARK.json {sorted(names)}")
        # Every failed operation is an output check that found a wrong or
        # unverifiable result, so any of them makes the run incorrect.
        print(json.dumps({
            "correct": res["failed"] == 0,
            "attempted": res["attempted"],
            "failed": res["failed"],
            "metrics": {n: metrics[n] for n in names}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    main()
