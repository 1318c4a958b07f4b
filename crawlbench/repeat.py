#!/usr/bin/env python3
"""Run the crawl benchmark k times per workload and summarise the spread.

Run from the root of a checkout:

    python3 crawlbench/repeat.py --k 10 --sets 2

Each run is a fresh process (`crawlbench/run.py`), with its own seed.
Rounds alternate the workload order, and with `--sets 2` they also
alternate which set runs first, so slow drift of the machine falls on both
sets alike. For every workload and metric it prints the median, the first
and third quartile (`statistics.quantiles(values, n=4)`), and the spread
(Q3 - Q1) / median next to the metric's bound from BENCHMARK.json. With two
sets it also prints how far the second set's median lies from the first's,
in the metric's worse direction, and each set's share of failed operations.
`--out FILE` writes every run's result as JSON lines.
"""
import argparse
import json
import os
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                         text=True)
    try:
        out, _ = p.communicate()
    finally:
        if p.poll() is None:  # interrupted: let run.py stop its JVM
            p.terminate()
            p.wait()
    lines = out.strip().splitlines()
    if p.returncode != 0 or not lines:
        return None
    return json.loads(lines[-1])


def summary(values):
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = med
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--k", type=int, default=10, help="runs per workload and set")
    ap.add_argument("--sets", type=int, choices=(1, 2), default=1)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--seed-base", type=int, default=1000)
    ap.add_argument("--out")
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    workloads = args.workloads.split(",")
    metrics = bench["per_layer" if args.trace else "end_to_end"]
    runs = {}  # (set, workload) -> [result]
    out = open(args.out, "a") if args.out else None
    for i in range(args.k):
        order = workloads if i % 2 == 0 else workloads[::-1]
        sets = list(range(args.sets)) if i % 2 == 0 else list(range(args.sets))[::-1]
        for s in sets:
            for w in order:
                seed = args.seed_base + 100 * s + i
                r = run_once(w, seed, args.seconds, args.trace)
                print(f"set {s} {w} seed {seed}: "
                      + ("FAILED RUN" if r is None else
                         f"correct={r['correct']} attempted={r['attempted']} failed={r['failed']} "
                         + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())),
                      file=sys.stderr, flush=True)
                if out:
                    out.write(json.dumps({"set": s, "workload": w, "seed": seed, "result": r}) + "\n")
                    out.flush()
                runs.setdefault((s, w), []).append(r)
    worst_ok = True
    for w in workloads:
        print(f"\n== {w}")
        meds = {}
        for s in range(args.sets):
            rs = runs.get((s, w), [])
            good = [r for r in rs if r is not None]
            bad = len(rs) - len(good)
            att = sum(r["attempted"] for r in good)
            fail = sum(r["failed"] for r in good)
            shares = sorted({r["failed"] / r["attempted"] for r in good})
            incorrect = sum(1 for r in good if not r["correct"])
            print(f"set {s}: {len(good)} runs ({bad} crashed, {incorrect} incorrect), "
                  f"failed {fail}/{att}, per-run failed shares {shares}")
            if bad or incorrect:
                worst_ok = False
            for m in metrics:
                vals = [r["metrics"][m["name"]]["value"] for r in good if m["name"] in r["metrics"]]
                if not vals:
                    continue
                med, q1, q3, spread = summary(vals)
                meds[(s, m["name"])] = med
                bound = m.get("bound")
                flag = ""
                if bound is not None and m["name"] != "setup_s":
                    flag = "ok" if spread <= bound / 3 else ("within bound" if spread <= bound else "TOO WIDE")
                    if spread > bound:
                        worst_ok = False
                print(f"  {m['name']:<40} median {med:<12.5g} q1 {q1:<12.5g} q3 {q3:<12.5g} "
                      f"spread {spread:7.3%}" + (f"  bound {bound:.0%} {flag}" if bound else ""))
        if args.sets == 2:
            for m in metrics:
                a, b = meds.get((0, m["name"])), meds.get((1, m["name"]))
                if a is None or b is None or not a:
                    continue
                worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
                bound = m.get("bound")
                verdict = ""
                if bound is not None:
                    verdict = "agree" if worse <= bound else "DISAGREE"
                    if worse > bound:
                        worst_ok = False
                print(f"  set1 vs set0 {m['name']:<28} {worse:+7.3%} worse  {verdict}")
    return 0 if worst_ok else 1


if __name__ == "__main__":
    sys.exit(main())
