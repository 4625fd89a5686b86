"""A/A steadiness check: two sets of benchmark runs of the same commit.

    python3 graftbench/aa.py [--runs 10]

Run from the root of a checkout. Each of the two sets runs every workload
once per seed 1..runs, untraced, one run at a time, with ``run_seconds``
from BENCHMARK.json.
For every metric and workload it prints, per set: the sample count, median,
quartiles, the spread (quartile distance over median) and the highest
percentile with at least ten samples beyond it; then the change of the
second set's median against the first. A metric is flagged when its spread
reaches a third of its bound or its median moves by more than its bound.
Per set it also prints the medians of the environment stamp (steal, other
processes' CPU share, loadavg and the probe times), which tell a slower
box from a slower program; then the job and stage counts per warm pass
seen across all runs and the passes the drift flag named. Raw results go to
``.bench_build/graftbench/aa.json``.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def tail_percentile(n):
    """Highest whole percentile with at least ten of n samples above it."""
    return None if n <= 10 else int(100 * (n - 10) / n)


def describe(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    p = tail_percentile(len(values))
    return {"n": len(values), "median": q2, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / q2 if q2 else float("inf"),
            "tail": None if p is None else (p, sorted(values)[int(len(values) * p / 100)])}


SETS = 2
ENV = ("steal_share", "other_cpu_share", "loadavg_start", "probe_before_s", "probe_after_s")


def run_once(workload, seed, seconds):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or len(lines) < 2:
        raise SystemExit("run failed (%s seed %d):\n%s" % (workload, seed, out.stderr[-2000:]))
    context, result = json.loads(lines[-2])["context"], json.loads(lines[-1])
    return {"workload": workload, "seed": seed, "elapsed_s": time.time() - t0,
            "result": result, "context": context}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    workloads = [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    runs = []
    for s in range(SETS):
        for w in workloads:
            for seed in range(1, args.runs + 1):
                r = run_once(w, seed, bench["run_seconds"])
                r["set"] = s
                runs.append(r)
                print("set %d %s seed %d: %.0f s, correct=%s" % (
                    s, w, seed, r["elapsed_s"], r["result"]["correct"]), flush=True)
    os.makedirs(os.path.join(".bench_build", "graftbench"), exist_ok=True)
    with open(os.path.join(".bench_build", "graftbench", "aa.json"), "w") as f:
        json.dump(runs, f)

    for w in workloads:
        mine = [r for r in runs if r["workload"] == w]
        print("\n== %s: %d runs, %.0f s per run on average, %d failed ops" % (
            w, len(mine), statistics.mean(r["elapsed_s"] for r in mine),
            sum(r["result"]["failed"] for r in mine)))
        for name in mine[0]["result"]["metrics"]:
            bound = bounds.get(name)
            sets = [[r["result"]["metrics"][name]["value"] for r in mine if r["set"] == s]
                    for s in range(SETS)]
            descs = [describe(v) for v in sets]
            flags = []
            for d in descs:
                tail = "-" if d["tail"] is None else "p%d=%.4g" % d["tail"]
                print("  %-18s n=%d median=%.4g q1=%.4g q3=%.4g spread=%.3f %s" % (
                    name, d["n"], d["median"], d["q1"], d["q3"], d["spread"], tail))
                if bound is not None and d["spread"] >= bound / 3:
                    flags.append("spread %.3f >= bound/3" % d["spread"])
            change = descs[1]["median"] / descs[0]["median"] - 1
            print("  %-18s median change %+.3f (bound %s)" % ("", change, bound))
            if bound is not None and abs(change) > bound:
                flags.append("median moved %+.3f" % change)
            for fl in flags:
                print("  %-18s ** %s" % ("", fl))
        for s in range(SETS):
            env = [r["context"]["env"] for r in mine if r["set"] == s]
            print("  env set %d medians: %s" % (s, " ".join(
                "%s=%.3g" % (k, statistics.median(e[k] for e in env)) for k in ENV)))
        jobs = sorted({(p["jobs"], p["stages"]) for r in mine
                       for p in r["context"]["warm_passes"]})
        print("  (jobs, stages) per warm pass: %s" % jobs)
        drifted = [(r["set"], r["seed"], r["context"]["plan_drift_passes"])
                   for r in mine if r["context"]["plan_drift_passes"]]
        print("  drift flags (set, seed, passes): %s" % (drifted or "none"))


if __name__ == "__main__":
    main()
