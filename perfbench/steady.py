"""Steadiness check: two sets of runs of every workload in BENCHMARK.json,
each end-to-end metric's spread and the two sets' medians against its bound.

    python3 perfbench/steady.py [--runs 10]

Run from the root of a checkout. Each set runs every workload with seeds
1..runs. The spread is the distance between the first and third quartiles
(statistics.quantiles, n=4) as a share of the median. The benchmark is
steady when, for every metric of every workload, setup_s included, the
spread of each set is within the metric's bound, the second set's median is
not worse than the first's by more than the bound, every check passed, and
every run has the same share of failed operations. Exits 0 when steady.
Each spread is also printed as a share of its bound. The raw values land in
.bench_build/steady-<stamp>.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

SETS = 2


def run(workload, seed, seconds):
    here = os.path.dirname(os.path.abspath(__file__))
    out = subprocess.run(
        [sys.executable, os.path.join(here, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        capture_output=True, text=True)
    if out.returncode != 0:
        print(f"{workload} seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
        sys.exit(1)
    return json.loads(out.stdout.strip().splitlines()[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    # values[set][workload][metric] = one value per run
    values = [{w: {m: [] for m in metrics} for w in names} for _ in range(SETS)]
    shares = {w: set() for w in names}
    correct = True
    for s in range(SETS):
        for w in names:
            for seed in range(1, a.runs + 1):
                res = run(w, seed, spec["run_seconds"])
                correct &= res["correct"]
                shares[w].add(res["failed"] / res["attempted"])
                for m, v in res["metrics"].items():
                    values[s][w][m].append(v["value"])
                print(f"set {s + 1} {w} seed {seed}: " + ", ".join(
                    f"{m}={v['value']:.4g}" for m, v in res["metrics"].items()),
                    flush=True)
    print()
    steady = correct
    for w in names:
        print(f"{w}: failed share {sorted(shares[w])}")
        steady &= len(shares[w]) == 1
        for m, spec_m in metrics.items():
            bound = spec_m["bound"]
            meds = []
            for s in range(SETS):
                q1, med, q3 = statistics.quantiles(values[s][w][m], n=4)
                spread = (q3 - q1) / med
                meds.append(med)
                ok = spread <= bound
                steady &= ok
                print(f"  {m:12s} set {s + 1}: median {med:10.4f}  spread "
                      f"{spread:7.2%} = {spread / bound:4.0%} of bound "
                      f"{bound:.0%}  {'ok' if ok else 'NOISY'}")
            worse = (meds[1] - meds[0]) / meds[0]
            if spec_m["better"] == "higher":
                worse = -worse
            ok = worse <= bound
            steady &= ok
            print(f"  {m:12s} set 2 vs set 1: {worse:+7.2%} worse (<= {bound:.0%}) "
                  f"{'ok' if ok else 'DRIFT'}")
    print(f"all checks passed: {correct}")
    os.makedirs(".bench_build", exist_ok=True)
    with open(f".bench_build/steady-{time.strftime('%Y%m%dT%H%M%S')}.json", "w") as f:
        json.dump({"values": values, "failed_shares": {w: sorted(v) for w, v in
                                                       shares.items()}}, f, indent=1)
    sys.exit(0 if steady else 1)


if __name__ == "__main__":
    main()
