#!/usr/bin/env python3
"""Alternating A/B pairs of the reference-flow benchmark between two checkouts.

    python3 tools/ab_pairs.py --base ../parent --change . \\
        --workloads weekly_upsert,dashboard --seeds 7-12 --seconds 8 \\
        [--trace 0|1] [--out pairs.jsonl]

For every workload and seed it runs `perfbench/run.py` once in each
checkout, back to back; the checkout that goes first alternates from one
seed to the next, so neither side always runs on a warmer machine. Each
run's result line is appended to `--out` as it arrives (one JSON object
per run: workload, seed, side, result), so an interrupted series keeps
what it measured.

At the end it prints, per workload and metric, the median on each side,
how many pairs the change won (a tie counts as no win), the distance
between the quartiles of the base runs (a claimed gain must move the
median by more than that), and the shift of the median as a share of
the metric's bound in the base checkout's
BENCHMARK.json (positive = worse; `bound` is a relative shift, so 1.0
means the change's median sits exactly at the bound). Metrics without a
bound (per-layer, `--trace 1`) print their shift as a plain fraction.

Reads only `perfbench/` and `BENCHMARK.json` of the two checkouts; each
checkout builds and caches its own benchmark jar on its first run.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_one(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(checkout, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        return None
    return json.loads(lines[-1])


def directions(base):
    with open(os.path.join(base, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    return better, bounds


def summarize(pairs, better, bounds):
    names = sorted({n for b, c in pairs for n in list(b["metrics"]) + list(c["metrics"])})
    print("%-28s %12s %12s %6s %12s %12s" % (
        "metric", "base", "change", "wins", "base IQR", "shift/bound"))
    for n in names:
        both = [(b["metrics"][n]["value"], c["metrics"][n]["value"]) for b, c in pairs
                if n in b["metrics"] and n in c["metrics"]]
        if not both:
            continue
        sign = -1.0 if better.get(n, "lower") == "higher" else 1.0
        wins = sum(1 for b, c in both if sign * (c - b) < 0)
        mb = statistics.median(b for b, _ in both)
        mc = statistics.median(c for _, c in both)
        q = statistics.quantiles([b for b, _ in both], n=4) if len(both) > 1 else [mb, mb, mb]
        shift = sign * (mc - mb) / mb if mb else 0.0
        bound = bounds.get(n)
        shown = "%+.2f" % (shift / bound) if bound else "%+.3f" % shift
        print("%-28s %12.4g %12.4g %3d/%-2d %12.4g %12s" % (
            n, mb, mc, wins, len(both), q[2] - q[0], shown))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workloads", required=True, help="comma-separated workload names")
    ap.add_argument("--seeds", required=True, help="e.g. 7-12 or 1,3,5")
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="append every run's result here (JSON lines)")
    a = ap.parse_args()
    base, change = os.path.abspath(a.base), os.path.abspath(a.change)
    better, bounds = directions(base)
    sides = {"base": base, "change": change}
    for workload in a.workloads.split(","):
        pairs = []
        for i, seed in enumerate(seeds_of(a.seeds)):
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            got = {}
            for side in order:
                got[side] = run_one(sides[side], workload, seed, a.seconds, a.trace)
                if a.out:
                    with open(a.out, "a") as fh:
                        fh.write(json.dumps({"workload": workload, "seed": seed, "side": side,
                                             "first": order[0], "result": got[side]}) + "\n")
            if got["base"] is None or got["change"] is None:
                print("%s seed %d: a run failed; pair dropped" % (workload, seed), file=sys.stderr)
                continue
            shown = [n for n in sorted(bounds) if n in got["base"]["metrics"]] or sorted(
                set(got["base"]["metrics"]) & set(got["change"]["metrics"]))
            print("%s seed %d (%s first): %s" % (workload, seed, order[0], ", ".join(
                "%s %.4g -> %.4g" % (n, got["base"]["metrics"][n]["value"],
                                     got["change"]["metrics"][n]["value"])
                for n in shown)), file=sys.stderr, flush=True)
            pairs.append((got["base"], got["change"]))
        print("== %s: %d pairs (seconds %d, trace %d)" % (workload, len(pairs), a.seconds, a.trace))
        if pairs:
            summarize(pairs, better, bounds)
        sys.stdout.flush()


if __name__ == "__main__":
    main()
