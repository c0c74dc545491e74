#!/usr/bin/env python3
"""Steadiness check: runs each workload once per seed, in one or more sets,
and prints every metric's median, quartiles and spread, and whether the sets
agree within the bounds in BENCHMARK.json.

    python3 perfbench/steady.py --workload rsvp_stream --workload artifact_serving \
        --runs 10 --sets 2 [--trace 0] [--save results.json]

Set k uses seeds 1000*k+1 .. 1000*k+runs. The spread of a metric is
(Q3 - Q1) / median over its runs, with quartiles as Python's
statistics.quantiles(values, n=4) gives them. A set agrees with the first
when no median is worse by more than the metric's bound and the share of
failed operations is identical.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def one_run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}\n{p.stderr[-3000:]}")
    res = json.loads(lines[-1])
    res["wall_s"] = time.time() - t0
    notes = [ln for ln in p.stderr.splitlines() if ln.startswith("perfbench: {")]
    res["notes"] = json.loads(notes[-1][len("perfbench: "):]) if notes else {}
    return res


def summary(runs):
    out = {}
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        out[name] = {"median": med, "q1": q1, "q3": q3,
                     "spread": (q3 - q1) / med if med else float("inf"), "values": vals}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--save")
    a = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    seconds = spec["run_seconds"]
    metrics = {m["name"]: m for m in spec["per_layer" if a.trace else "end_to_end"]}
    saved, ok = {}, True
    for w in a.workload:
        sets = []
        for k in range(1, a.sets + 1):
            runs = [one_run(w, 1000 * k + i, seconds, a.trace) for i in range(1, a.runs + 1)]
            sets.append(runs)
            s = summary(runs)
            walls = [r["wall_s"] for r in runs]
            shares = {(r["failed"], r["attempted"]) for r in runs}
            print(f"\n{w} set {k}: {len(runs)} runs, wall {min(walls):.0f}-{max(walls):.0f} s, "
                  f"correct {all(r['correct'] for r in runs)}, failed/attempted {sorted(shares)}")
            for name, m in s.items():
                bound = metrics[name].get("bound")
                flag = ""
                if bound is not None and name != "setup_s":
                    good = m["spread"] <= bound
                    ok &= good
                    flag = f"{'ok' if good else 'WIDE'} (bound {bound}, third {bound / 3:.3f})"
                print(f"  {name:32s} median {m['median']:12.4f}  q1 {m['q1']:12.4f}  "
                      f"q3 {m['q3']:12.4f}  spread {m['spread']:.3f} {flag}")
        first = summary(sets[0])
        fail_share = {r["failed"] / r["attempted"] for r in sets[0]}
        for k, runs in enumerate(sets[1:], start=2):
            s = summary(runs)
            same_share = {r["failed"] / r["attempted"] for r in runs} == fail_share
            ok &= same_share
            print(f"{w} set {k} vs set 1: failed share identical: {same_share}")
            for name, m in s.items():
                bound = metrics[name].get("bound")
                if bound is None:
                    continue
                better = metrics[name]["better"]
                base = first[name]["median"]
                worse = (m["median"] - base) / base if better == "lower" else (base - m["median"]) / base
                good = worse <= bound
                ok &= good
                print(f"  {name:32s} {base:12.4f} -> {m['median']:12.4f}  worse by {worse:+.3f} "
                      f"{'ok' if good else 'FAIL'} (bound {bound})")
        saved[w] = sets
    if a.save:
        with open(a.save, "w") as fh:
            json.dump(saved, fh, indent=1)
    print(f"\nsteady: {'yes' if ok else 'no'}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
