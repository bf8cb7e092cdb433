#!/usr/bin/env python3
"""Alternating A/B of one perfbench workload between two checkouts.

Usage (from anywhere):

    python3 scripts/bench_ab.py <parent-dir> <change-dir> --workload stream_serve --seeds 1-10

Each seed runs `perfbench/run.py --trace 0` once in each checkout, parent
first on odd seeds and change first on even seeds, so a host that speeds
up or slows down over the set does not favour one side. For every
end-to-end metric in the parent's BENCHMARK.json it then prints, per side,
the median, q1 and q3 (linear interpolation) and IQR/median, the change
in the median, and in how many pairs the change was better. A run that
fails counts against its side and its pair; the summary says how many
did. --out writes every run's JSON result to a file.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def run(checkout, workload, seed, seconds):
    """One --trace 0 run; its result object, or None if it failed."""
    cmd = [sys.executable, os.path.join(checkout, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    r = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    took = time.time() - t0
    if r.returncode != 0:
        print(f"  {checkout} seed {seed}: exit {r.returncode} after {took:.0f} s\n"
              f"{r.stderr[-2000:]}", file=sys.stderr)
        return None
    result = json.loads(r.stdout.strip().splitlines()[-1])
    print(f"  {checkout} seed {seed}: {took:.0f} s, correct={result['correct']}, " +
          ", ".join(f"{k}={v['value']:.4g}" for k, v in sorted(result["metrics"].items())),
          file=sys.stderr)
    return result


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def summarize(spec, runs):
    """Table lines: per metric, both sides' spread, the median change and pair wins."""
    lines = [f"{'metric':<18} {'side':<7} {'median':>10} {'q1':>10} {'q3':>10} {'IQR/med':>8}"]
    for m in spec["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        side = {}
        for s in ("parent", "change"):
            xs = [r[s]["metrics"][name]["value"] for r in runs if r[s] is not None]
            if not xs:
                continue
            med = statistics.median(xs)
            q1, q3 = quartiles(xs)
            side[s] = med
            lines.append(f"{name:<18} {s:<7} {med:>10.4g} {q1:>10.4g} {q3:>10.4g} "
                         f"{(q3 - q1) / med if med else float('nan'):>8.3f}")
        pairs = [(r["parent"]["metrics"][name]["value"], r["change"]["metrics"][name]["value"])
                 for r in runs if r["parent"] and r["change"]]
        wins = sum(1 for p, c in pairs if (c < p if lower else c > p))
        if len(side) == 2 and side["parent"]:
            delta = (side["change"] - side["parent"]) / side["parent"] * 100
            lines.append(f"{'':<18} median {delta:+.1f} %, change better in {wins}/{len(runs)} pairs "
                         f"({m['better']} is better, bound {m['bound']})")
    for s in ("parent", "change"):
        done = [r[s] for r in runs if r[s] is not None]
        att = sum(x["attempted"] for x in done)
        lines.append(f"{s}: {len(runs) - len(done)} failed runs, "
                     f"{sum(1 for x in done if not x['correct'])} incorrect, "
                     f"fail_ratio {sum(x['failed'] for x in done) / att if att else float('nan'):.4g}")
    return lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="e.g. 1-10 or 1,3,5-7")
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--out", help="write every run's result here as JSON")
    a = ap.parse_args()
    dirs = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    with open(os.path.join(dirs["parent"], "BENCHMARK.json")) as f:
        spec = json.load(f)

    runs = []
    for seed in seeds(a.seeds):
        order = ("parent", "change") if seed % 2 else ("change", "parent")
        pair = {"seed": seed}
        for s in order:
            pair[s] = run(dirs[s], a.workload, seed, a.seconds)
        runs.append(pair)
        if a.out:
            with open(a.out, "w") as f:
                json.dump(runs, f, indent=1)
    print(f"# {a.workload}, {len(runs)} pairs, seeds {a.seeds}, --seconds {a.seconds:g}")
    for line in summarize(spec, runs):
        print(line)


if __name__ == "__main__":
    main()
