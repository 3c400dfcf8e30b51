#!/usr/bin/env python3
"""A/B compare two checkouts of the repo with the benchmark.

    python3 perfbench/compare.py PARENT CHANGE [--workload W ...]
        [--pairs 10] [--traced 2] [--save runs.jsonl]
    python3 perfbench/compare.py --load runs.jsonl

PARENT and CHANGE are checkout roots that each hold perfbench/run.py. For
each workload it runs `--pairs` untraced pairs and `--traced` traced
pairs, alternating which side runs first; both sides of a pair get the
same seed. Run the two sides with identical benchmark code.

For each workload and end-to-end metric it prints each side's median and
quartiles, how many pairs CHANGE won (ties count for neither side), and
flags a move beyond the metric's bound from PARENT's BENCHMARK.json. A
gain is only called when CHANGE wins at least 9 of 10 pairs and the
medians differ by more than PARENT's own quartile spread. It then prints
the per-layer medians of the traced runs and their deltas, so a saving
can be located.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

SEED_BASE = 1000


def run_side(root, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"{root}: {' '.join(cmd)} exited {p.returncode}")
    return json.loads(lines[-1])


def quartiles(vals):
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, q2, q3


def report(runs, spec):
    bound = {m["name"]: m for m in spec["end_to_end"]}
    for w in sorted({r["workload"] for r in runs}):
        print(f"\n== {w}")
        for r in runs:
            if r["workload"] == w and not r["result"]["correct"]:
                print(f"  {r['side']} seed {r['seed']}: {r['result']['failed']} failed "
                      f"of {r['result']['attempted']}")
        pairs = {}
        for r in runs:
            if r["workload"] == w and r["trace"] == 0:
                pairs.setdefault(r["seed"], {})[r["side"]] = r["result"]["metrics"]
        pairs = [p for p in pairs.values() if len(p) == 2]
        print(f"  {len(pairs)} untraced pairs")
        for name, m in bound.items():
            a = [p["A"][name]["value"] for p in pairs]
            b = [p["B"][name]["value"] for p in pairs]
            if not a:
                continue
            sign = 1 if m["better"] == "lower" else -1
            wins = sum(1 for x, y in zip(a, b) if sign * (x - y) > 0)
            losses = sum(1 for x, y in zip(a, b) if sign * (y - x) > 0)
            qa, qb = quartiles(a), quartiles(b)
            delta = (qb[1] - qa[1]) / qa[1] if qa[1] else 0.0
            verdict = ""
            if sign * (qb[1] - qa[1]) > m["bound"] * abs(qa[1]):
                verdict = f"WORSE beyond bound {m['bound']:.0%}"
            elif (wins >= 0.9 * len(pairs) and sign * (qa[1] - qb[1]) > qa[2] - qa[0]):
                verdict = "gain"
            elif abs(qa[2] - qa[0]) > m["bound"] * abs(qa[1]):
                verdict = "unresolved: parent spread exceeds bound"
            print(f"  {name:16s} A {qa[1]:10.4g} [{qa[0]:.4g}, {qa[2]:.4g}]  "
                  f"B {qb[1]:10.4g} [{qb[0]:.4g}, {qb[2]:.4g}]  {delta:+7.1%}  "
                  f"B wins {wins}/{len(pairs)} (loses {losses})  {verdict}")
        traced = {"A": [], "B": []}
        for r in runs:
            if r["workload"] == w and r["trace"] == 1:
                traced[r["side"]].append(r["result"]["metrics"])
        if traced["A"] and traced["B"]:
            print(f"  per-layer medians, {len(traced['A'])} traced runs per side "
                  "(metrics that moved)")
            for name in traced["A"][0]:
                a = statistics.median(t[name]["value"] for t in traced["A"])
                b = statistics.median(t[name]["value"] for t in traced["B"])
                if a != b:
                    rel = f"{(b - a) / a:+.1%}" if a else "new"
                    print(f"    {name:40s} {a:12.4g} -> {b:12.4g} "
                          f"{traced['A'][0][name]['unit']:6s} {rel}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent", nargs="?")
    ap.add_argument("change", nargs="?")
    ap.add_argument("--workload", action="append")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--traced", type=int, default=2)
    ap.add_argument("--save", help="append every run to this JSON-lines file")
    ap.add_argument("--load", help="report on runs saved earlier instead of running")
    a = ap.parse_args()
    if a.load:
        lines = Path(a.load).read_text().splitlines()
        spec = json.loads(lines[0])["spec"]
        runs = [json.loads(x) for x in lines[1:]]
        report(runs, spec)
        return
    if not (a.parent and a.change):
        ap.error("give PARENT and CHANGE checkouts, or --load")
    sides = {"A": Path(a.parent).resolve(), "B": Path(a.change).resolve()}
    spec = json.loads((sides["A"] / "BENCHMARK.json").read_text())
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    save = open(a.save, "a") if a.save else None
    if save:
        save.write(json.dumps({"spec": spec}) + "\n")
    runs = []
    for w in workloads:
        for trace, n in ((0, a.pairs), (1, a.traced)):
            for i in range(n):
                seed = SEED_BASE + i
                for side in ("AB" if i % 2 == 0 else "BA"):
                    res = run_side(sides[side], w, seed, spec["run_seconds"], trace)
                    r = {"side": side, "workload": w, "seed": seed, "trace": trace, "result": res}
                    runs.append(r)
                    if save:
                        save.write(json.dumps(r) + "\n")
                        save.flush()
                    print(f"[compare] {w} trace={trace} seed={seed} {side} done",
                          file=sys.stderr, flush=True)
    report(runs, spec)


if __name__ == "__main__":
    main()
