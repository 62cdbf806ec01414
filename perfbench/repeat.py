"""Repeatability check: run every workload in two separate sets.

    python3 perfbench/repeat.py [--runs 10]

Each set runs every workload `--runs` times, each time with another seed
(set A seeds 1..n, set B seeds n+1..2n); set B starts after set A ends.
For every gated end-to-end metric it prints, per set, the median and quartiles
(`statistics.quantiles(values, n=4)`), the spread (interquartile distance
as a share of the median) and the set-to-set change of the median against
the metric's bound from BENCHMARK.json, and the failed share of operations;
then the ungated wall times' medians and spreads.
A metric is OK when its spread in each set is within the bound and set
B's median is not worse than set A's by more than the bound.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run_set(cfg, workload, seeds):
    rows = []
    for seed in seeds:
        t0 = time.time()
        p = subprocess.run(
            cfg["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(cfg["run_seconds"]), "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
        if p.returncode != 0 or not last.startswith("{"):
            sys.exit(f"{workload} seed {seed} failed (exit {p.returncode}):\n{p.stdout[-3000:]}")
        r = json.loads(last)
        wall = [ln for ln in p.stdout.splitlines() if ln.startswith("wall times")]
        r["wall"] = {k: float(v) for k, v in (kv.split("=") for kv in wall[0].split(": ")[1].split())}
        rows.append(r)
        print(f"  {workload} seed {seed}: run {time.time() - t0:.0f} s: {last}", flush=True)
    return rows


def stats(values):
    """Median, quartiles and spread; the spread of a metric whose median is
    0 (a wall time of a call the workload does not make) is 0."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    a = ap.parse_args()
    cfg = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [w["name"] for w in cfg["workloads"]]
    sets = {"A": range(1, a.runs + 1), "B": range(a.runs + 1, 2 * a.runs + 1)}
    raw = {s: {} for s in sets}
    for s, seeds in sets.items():
        print(f"set {s}", flush=True)
        for w in names:
            raw[s][w] = run_set(cfg, w, seeds)
    ok = True
    for w in names:
        print(f"\n{w}")
        print(f"  {'metric':22} {'median A':>10} {'q1..q3 A':>21} {'spread A':>8} "
              f"{'median B':>10} {'spread B':>8} {'B vs A':>7} {'bound':>6}")
        for m in cfg["end_to_end"]:
            name, bound = m["name"], m["bound"]
            sa = stats([r["metrics"][name]["value"] for r in raw["A"][w]])
            sb = stats([r["metrics"][name]["value"] for r in raw["B"][w]])
            worse = (sb["median"] - sa["median"]) / sa["median"]
            if m["better"] == "higher":
                worse = -worse
            good = worse <= bound and max(sa["spread"], sb["spread"]) <= bound
            ok &= good
            print(f"  {name:22} {sa['median']:10.4g} {sa['q1']:10.4g}..{sa['q3']:<10.4g} "
                  f"{sa['spread']:8.3f} {sb['median']:10.4g} {sb['spread']:8.3f} {worse:7.3f} "
                  f"{bound:6.2f}{'' if good else '  <-- out of bound'}")
        print("  spread over both sets: " + ", ".join(
            f"{m['name']} {stats([r['metrics'][m['name']]['value'] for s in sets for r in raw[s][w]])['spread']:.3f}"
            for m in cfg["end_to_end"]))
        print("  wall times, not gated (median A, median B, spread A, spread B): " + ", ".join(
            f"{k} {stats([r['wall'][k] for r in raw['A'][w]])['median']:.3g} "
            f"{stats([r['wall'][k] for r in raw['B'][w]])['median']:.3g} "
            f"{stats([r['wall'][k] for r in raw['A'][w]])['spread']:.2f} "
            f"{stats([r['wall'][k] for r in raw['B'][w]])['spread']:.2f}"
            for k in raw["A"][w][0]["wall"]))
        shares = {s: {r["failed"] / r["attempted"] for r in raw[s][w]} for s in sets}
        same = len(shares["A"] | shares["B"]) == 1
        ok &= same and all(r["correct"] for s in sets for r in raw[s][w])
        print(f"  failed share A {sorted(shares['A'])} B {sorted(shares['B'])}"
              f"{'' if same else '  <-- differs'}")
    print(f"\n{'all metrics within bounds' if ok else 'SOME METRICS OUT OF BOUNDS'}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
