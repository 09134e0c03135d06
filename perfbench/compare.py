#!/usr/bin/env python3
"""Compare benchmark runs of a parent commit and a change.

Record runs (from a checkout's root; each run's JSON result line goes
to <dir>/<workload>-<seed>.json):
    python3 perfbench/compare.py record --out DIR --seeds 1-10 [--workloads a,b]

Record alternating pairs of two checkouts (the parent first on odd
seeds, the change first on even ones):
    python3 perfbench/compare.py pairs --parent PARENT_ROOT --change CHANGE_ROOT \\
        --out DIR --seeds 1-10

Report, one row per workload x end-to-end metric:
    python3 perfbench/compare.py report --parent DIR --change DIR

A row's verdict follows the benchmark's rule: "improved" needs the
change to win at least 9 in 10 of the seed-paired runs (ties count for
neither) and a median gap wider than the parent's own interquartile
range; "worse" is a median worse than the parent's by more than the
metric's bound; "unresolved" is a parent spread wider than the bound,
unless every change run beats every parent run; else "unchanged".
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spec_of(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def seeds_of(text):
    out = []
    for part in text.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b) + 1)) if b else [int(a)]
    return out


def run_one(root, spec, workload, seed, out_dir):
    cmd = list(spec["command"]) + ["--workload", workload, "--seed", str(seed),
                                   "--seconds", str(spec["run_seconds"]), "--trace", "0"]
    p = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
    if p.returncode != 0:
        print(f"{root}: {workload} seed {seed} failed: {p.stderr.strip()[-300:]}",
              file=sys.stderr)
        return
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{workload}-{seed}.json"), "w") as f:
        f.write(p.stdout.strip().splitlines()[-1] + "\n")


def load(dir_):
    runs = {}
    for name in sorted(os.listdir(dir_)):
        if name.endswith(".json"):
            w, _, s = name[:-5].rpartition("-")
            with open(os.path.join(dir_, name)) as f:
                runs[(w, int(s))] = json.load(f)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def verdict(p, c, better, bound):
    """(verdict, wins, pairs) for paired parent/change values."""
    sign = 1 if better == "lower" else -1
    wins = sum(1 for a, b in zip(p, c) if sign * (a - b) > 0)
    pairs = len(p)
    mp, mc = statistics.median(p), statistics.median(c)
    q1, q3 = quartiles(p)
    gain = sign * (mp - mc)
    if pairs and wins >= 0.9 * pairs and gain > (q3 - q1):
        return "improved", wins, pairs
    all_better = all(sign * (a - b) > 0 for a in p for b in c)
    if mp and (q3 - q1) / abs(mp) > bound and not all_better:
        return "unresolved", wins, pairs
    if mp and -gain / abs(mp) > bound:
        return "worse", wins, pairs
    return "unchanged", wins, pairs


def report(args):
    spec = spec_of(os.getcwd())
    parent, change = load(args.parent), load(args.change)
    print(f"{'workload':18s} {'metric':16s} {'parent median [q1, q3]':34s} "
          f"{'change median [q1, q3]':34s} {'wins':>6s} verdict")
    for w in [x["name"] for x in spec["workloads"]]:
        seeds = sorted(s for (ww, s) in parent if ww == w and (w, s) in change)
        if not seeds:
            continue
        for m in spec["end_to_end"]:
            p = [parent[(w, s)]["metrics"][m["name"]]["value"] for s in seeds]
            c = [change[(w, s)]["metrics"][m["name"]]["value"] for s in seeds]
            v, wins, n = verdict(p, c, m["better"], m["bound"])
            fmt = lambda xs: "{:.5g} [{:.5g}, {:.5g}]".format(statistics.median(xs), *quartiles(xs))
            print(f"{w:18s} {m['name']:16s} {fmt(p):34s} {fmt(c):34s} {wins:>3d}/{n:<2d} {v}")
        bad = [s for s in seeds if not (parent[(w, s)]["correct"] and change[(w, s)]["correct"])]
        if bad:
            print(f"{w:18s} runs with a failed correctness gate at seeds {bad}")


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("record")
    r.add_argument("--out", required=True)
    r.add_argument("--seeds", required=True)
    r.add_argument("--workloads")
    pr = sub.add_parser("pairs")
    pr.add_argument("--parent", required=True)
    pr.add_argument("--change", required=True)
    pr.add_argument("--out", required=True)
    pr.add_argument("--seeds", required=True)
    pr.add_argument("--workloads")
    rp = sub.add_parser("report")
    rp.add_argument("--parent", required=True)
    rp.add_argument("--change", required=True)
    args = ap.parse_args()
    if args.cmd == "report":
        return report(args)
    roots = [os.getcwd()] if args.cmd == "record" else [args.parent, args.change]
    spec = spec_of(roots[-1])
    workloads = args.workloads.split(",") if args.workloads else \
        [w["name"] for w in spec["workloads"]]
    for i, seed in enumerate(seeds_of(args.seeds)):
        for w in workloads:
            if args.cmd == "record":
                run_one(roots[0], spec, w, seed, args.out)
            else:
                sides = [("parent", args.parent), ("change", args.change)]
                for side, root in (sides if i % 2 == 0 else sides[::-1]):
                    run_one(root, spec, w, seed, os.path.join(args.out, side))


if __name__ == "__main__":
    main()
