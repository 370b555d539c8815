#!/usr/bin/env python3
"""Steadiness report for the benchmark of record.

    python3 perfbench/steadiness.py [--runs 10] [--sets 2] [--workloads a,b]

Run from the root of a checkout. Runs `--sets` independent sets of `--runs`
untraced runs of every workload in BENCHMARK.json, each run with its own
seed, the same way and with the same run length as BENCHMARK.json states.
For each workload and end-to-end metric it prints each set's median,
quartiles and spread (interquartile distance over the median), flags a
spread above the metric's bound (set-up time excepted, as it is a median of
set-ups already) and flags medians of two sets that differ by more than the
bound. Raw values go to perfbench/results/steadiness-<time>.json. Exits 1
when anything is flagged or a run fails.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(bench, workload, seed):
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", "0"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        raise SystemExit(f"run failed: {' '.join(cmd)} (exit {p.returncode})")
    return json.loads(lines[-1])


def stats(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workloads", help="comma-separated subset of BENCHMARK.json's workloads")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    metrics = bench["end_to_end"]

    raw = {}  # (set, workload) -> list of results
    for s in range(a.sets):
        for w in names:
            for i in range(a.runs):
                seed = 1 + 1000 * s + i
                t0 = time.monotonic()
                r = one_run(bench, w, seed)
                raw.setdefault(f"{s}/{w}", []).append(r)
                vals = " ".join(f"{m['name']}={r['metrics'][m['name']]['value']:.4f}" for m in metrics)
                print(f"set {s} {w} seed {seed}: {vals} failed={r['failed']} "
                      f"({time.monotonic() - t0:.0f} s)", flush=True)

    flagged = 0
    for w in names:
        print(f"\n{w}")
        medians = {}
        for m in metrics:
            name, bound = m["name"], m["bound"]
            for s in range(a.sets):
                st = stats([r["metrics"][name]["value"] for r in raw[f"{s}/{w}"]])
                medians.setdefault(name, []).append(st["median"])
                flag = ""
                if name != "setup_s" and st["spread"] > bound:
                    flag = "  FLAG spread > bound"
                    flagged += 1
                elif name != "setup_s" and st["spread"] > bound / 3:
                    flag = "  (spread > bound/3)"
                print(f"  {name:<12} set {s}: median {st['median']:.4f} {m['unit']}, "
                      f"q1 {st['q1']:.4f}, q3 {st['q3']:.4f}, spread {st['spread']:.4f} "
                      f"(bound {bound}){flag}")
            meds = medians[name]
            for s in range(1, len(meds)):
                diff = abs(meds[s] - meds[0]) / meds[0]
                bad = diff > bound
                flagged += bad
                print(f"  {name:<12} medians set {s} vs set 0 differ by {diff:.4f}"
                      f"{'  FLAG > bound' if bad else ''}")
        failed = sum(r["failed"] for s in range(a.sets) for r in raw[f"{s}/{w}"])
        attempted = sum(r["attempted"] for s in range(a.sets) for r in raw[f"{s}/{w}"])
        print(f"  failed_frac  {failed / attempted:.4f} ({failed} of {attempted})")
        flagged += failed > 0

    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    out = os.path.join(HERE, "results", f"steadiness-{time.strftime('%Y%m%d-%H%M%S')}.json")
    with open(out, "w") as f:
        json.dump(raw, f)
    print(f"\nraw results: {os.path.relpath(out, ROOT)}; {flagged} flag(s)")
    sys.exit(1 if flagged else 0)


if __name__ == "__main__":
    main()
