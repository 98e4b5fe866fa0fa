"""Run every workload as two separate sets of runs of the same tree and
report, per end-to-end metric, whether the two sets agree within the bound
BENCHMARK.json gives it.

    python3 perfbench/steadiness.py [--runs 5] [--workloads serve,ingest]

Set A uses seeds 1..N and set B seeds N+1..2N, so together they are 2N runs
with distinct seeds. For each metric the script prints both medians, the
quartiles of each set, the relative change of B's median against A's, the
spread (interquartile range over the median) of all 2N runs, and `ok` when
the change stays within the bound and, for every metric but setup_s, the
spread does too. It also checks that the share of failed operations is the
same in both sets. Raw values go to <build dir>/perfbench/steadiness.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def run_once(workload, seed, seconds):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-2000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    res["wall_s"] = time.time() - t0
    return res


def quartiles(xs):
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=5, help="runs per set")
    ap.add_argument("--workloads", default="")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    raw = {}
    all_ok = True
    for w in names:
        sets = [[run_once(w, s, spec["run_seconds"]) for s in range(1 + k * a.runs, 1 + (k + 1) * a.runs)]
                for k in range(2)]
        raw[w] = sets
        walls = [r["wall_s"] for s in sets for r in s]
        print(f"\n== {w}: {2 * a.runs} runs, wall per run median {statistics.median(walls):.1f} s, "
              f"max {max(walls):.1f} s")
        print(f"{'metric':<12} {'median A':>11} {'q1..q3 A':>23} {'median B':>11} "
              f"{'q1..q3 B':>23} {'B vs A':>7} {'spread':>7} {'bound':>6}  ok")
        for m in spec["end_to_end"]:
            a_vals = [r["metrics"][m["name"]]["value"] for r in sets[0]]
            b_vals = [r["metrics"][m["name"]]["value"] for r in sets[1]]
            qa, qb = quartiles(a_vals), quartiles(b_vals)
            change = (qb[1] - qa[1]) / qa[1]
            if m["better"] == "higher":
                change = -change
            q1, med, q3 = quartiles(a_vals + b_vals)
            spread = (q3 - q1) / med
            ok = change <= m["bound"] and (m["name"] == "setup_s" or spread <= m["bound"])
            all_ok &= ok
            print(f"{m['name']:<12} {qa[1]:>11.4g} {qa[0]:>11.4g}..{qa[2]:<11.4g} {qb[1]:>11.4g} "
                  f"{qb[0]:>11.4g}..{qb[2]:<11.4g} {change:>+7.3f} {spread:>7.3f} {m['bound']:>6}  "
                  f"{'yes' if ok else 'NO'}")
        shares = [sum(r["failed"] for r in s) / sum(r["attempted"] for r in s) for s in sets]
        correct = all(r["correct"] for s in sets for r in s)
        same = shares[0] == shares[1]
        all_ok &= same and correct
        print(f"failed share A {shares[0]:.4f} B {shares[1]:.4f} ({'same' if same else 'DIFFERENT'}); "
              f"all outputs correct: {correct}")
    out = os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench", "steadiness.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(raw, f)
    print(f"\nsteady: {all_ok}")
    return 0 if all_ok else 1


if __name__ == "__main__":
    sys.exit(main())
