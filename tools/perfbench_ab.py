#!/usr/bin/env python3
"""A/B comparison of two checkouts on one perfbench workload.

Usage (from anywhere):
    python3 tools/perfbench_ab.py PARENT_DIR CHANGE_DIR --workload W --pairs N --seed0 S

Runs `python3 perfbench/run.py --workload W --seed S+i --seconds T --trace 0`
in each checkout for pair i = 0..N-1, one run at a time, alternating which
side goes first (the parent on even pairs). T defaults to BENCHMARK.json's
`run_seconds` of the parent checkout. For every end-to-end metric it prints
both medians, the parent's interquartile range and how many pairs the change
won (ties count for neither side), and whether that is a gain by the
protocol: at least nine tenths of the pairs won and the medians apart by
more than the parent's IQR. Exits nonzero when any run is not `correct`.

Export each side with `git archive <rev> | tar -x -C DIR`: the checkouts must
not share build outputs (target/, perfbench/.build).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def median(xs):
    return statistics.median(xs)


def iqr(xs):
    """Q3 - Q1, quartiles by linear interpolation between order statistics."""
    if len(xs) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q3 - q1


def wins(parent, change, better):
    """Pairs in which the change's value beats the parent's; ties win nothing."""
    if better == "higher":
        return sum(1 for p, c in zip(parent, change) if c > p)
    return sum(1 for p, c in zip(parent, change) if c < p)


def summarize(parent, change, better):
    """One metric's A/B summary over paired runs."""
    pm, cm, spread = median(parent), median(change), iqr(parent)
    won = wins(parent, change, better)
    improved = cm > pm if better == "higher" else cm < pm
    return {
        "parent_median": pm, "change_median": cm, "parent_iqr": spread,
        "wins": won, "pairs": len(parent),
        "gain": improved and 10 * won >= 9 * len(parent) and abs(cm - pm) > spread,
    }


def run_once(checkout, workload, seed, seconds):
    """The result JSON of one run, or None when it printed none."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    try:
        return json.loads(lines[-1])
    except (IndexError, ValueError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed0", type=int, required=True)
    ap.add_argument("--seconds", type=float)
    args = ap.parse_args()
    with open(os.path.join(args.parent, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds if args.seconds is not None else bench["run_seconds"]
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}

    values = {"parent": {}, "change": {}}
    bad = []
    for i in range(args.pairs):
        seed = args.seed0 + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            res = run_once(getattr(args, side), args.workload, seed, seconds)
            if res is None or not res.get("correct"):
                bad.append(f"{side} seed {seed}: {res}")
            metrics = (res or {}).get("metrics", {})
            for name in better:
                if name in metrics:
                    values[side].setdefault(name, []).append(metrics[name]["value"])
            shown = {k: round(v["value"], 4) for k, v in metrics.items()}
            print(f"pair {i} seed {seed} {side}: {shown}", file=sys.stderr, flush=True)

    print(f"{args.workload}: {args.pairs} pairs from seed {args.seed0}")
    print(f"{'metric':<18}{'parent':>16}{'change':>16}{'parent IQR':>14}{'wins':>8}  gain")
    for name, b in better.items():
        p, c = values["parent"].get(name, []), values["change"].get(name, [])
        if not p or len(p) != len(c):
            print(f"{name:<18} incomplete: {len(p)} parent, {len(c)} change runs")
            continue
        s = summarize(p, c, b)
        print(f"{name:<18}{s['parent_median']:>16.4f}{s['change_median']:>16.4f}"
              f"{s['parent_iqr']:>14.4f}{s['wins']:>5}/{s['pairs']:<2}  "
              f"{'yes' if s['gain'] else 'no'}")
    for b in bad:
        print(f"not correct: {b}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
