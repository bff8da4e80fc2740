#!/usr/bin/env python3
"""Paired before/after runs of the repository benchmark.

    python3 tools/perfbench_pairs.py --parent HEAD~1 --workload pull_nightly \
        --seeds 681-690 [--trace 0] [--seconds 8] [--out pairs.jsonl]

Exports the committed files of `--parent` (any git rev) into
.bench_build/p<sha8> with `git archive` — the same thing a fresh
checkout of that commit holds, with nothing registered in .git — and
runs `perfbench/run.py` there and in this checkout for every seed,
alternating which side goes first so host drift hits both sides alike.
Prints, per metric, each side's median and quartiles, the change of the
median, how many pairs the change won (in the metric's better direction
from BENCHMARK.json) and whether the gain is claimable: the change wins
at least 9 of 10 pairs and its median beats the parent's by more than
the parent's interquartile range. A run that fails or reports
`correct: false` is listed and left out of its pair.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def export(rev):
    sha = subprocess.run(["git", "rev-parse", "--verify", rev + "^{commit}"], cwd=ROOT,
                         check=True, capture_output=True, text=True).stdout.strip()
    # short: sbt's boot socket lands under <tree>/.bench_build/tmp, and a
    # unix socket path must stay under 108 bytes
    tree = os.path.join(BUILD, "p" + sha[:8])
    if not os.path.isdir(tree):
        tmp = tree + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", tmp], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            sys.exit(f"perfbench_pairs: git archive {rev} failed")
        os.rename(tmp, tree)
    return sha, tree


def run(tree, args, seed):
    cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload,
           "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
    p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        res = {"correct": False, "error": (p.stderr.strip().splitlines() or ["no output"])[-1]}
    res["exit"] = p.returncode
    return res


def directions():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def report(pairs, better):
    names = sorted({m for p, c in pairs for m in p["metrics"]} &
                   {m for p, c in pairs for m in c["metrics"]})
    print(f"{'metric':44} {'parent median [q1, q3]':>28} {'change median [q1, q3]':>28}"
          f" {'delta':>8} {'wins':>6}  claim")
    for m in names:
        both = [(p["metrics"][m]["value"], c["metrics"][m]["value"]) for p, c in pairs
                if m in p["metrics"] and m in c["metrics"]]
        if not any(v for b in both for v in b):
            continue  # not measured by this workload
        ps, cs = [b[0] for b in both], [b[1] for b in both]
        lower = better.get(m, "lower") == "lower"
        wins = sum((c < p) if lower else (c > p) for p, c in both)
        pm, cm = statistics.median(ps), statistics.median(cs)
        (p1, p3), (c1, c3) = quartiles(ps), quartiles(cs)
        gain = (pm - cm) if lower else (cm - pm)
        delta = (cm - pm) / pm * 100 if pm else float("nan")
        claim = "yes" if wins >= 0.9 * len(both) and gain > p3 - p1 else "no"
        print(f"{m:44} {pm:10.4g} [{p1:.4g}, {p3:.4g}]".ljust(73) +
              f" {cm:10.4g} [{c1:.4g}, {c3:.4g}]".ljust(29) +
              f" {delta:+7.1f}% {wins:>3}/{len(both):<2}  {claim}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="git rev to compare against")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 681-690 or 1,5,9")
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="append every run as one JSON line to this file")
    args = ap.parse_args()

    sha, parent_tree = export(args.parent)
    print(f"perfbench_pairs: parent {sha[:12]} in {os.path.relpath(parent_tree, ROOT)}",
          file=sys.stderr)
    pairs = []
    for i, seed in enumerate(seeds_of(args.seeds)):
        order = [("parent", parent_tree), ("change", ROOT)]
        if i % 2:
            order.reverse()
        res = {}
        for side, tree in order:
            res[side] = run(tree, args, seed)
            r = res[side]
            status = "ok" if r.get("correct") and r["exit"] == 0 else "FAILED"
            print(f"perfbench_pairs: seed {seed} {side} {status}"
                  + ("" if status == "ok" else f": {r.get('error', r)}"), file=sys.stderr)
            if args.out:
                with open(args.out, "a") as f:
                    f.write(json.dumps({"seed": seed, "side": side, "parent": sha, **r}) + "\n")
        if all(res[s].get("correct") and res[s]["exit"] == 0 for s in res):
            pairs.append((res["parent"], res["change"]))
    if not pairs:
        sys.exit("perfbench_pairs: no complete pair")
    print(f"{args.workload}, {len(pairs)} pairs, parent {sha[:12]} vs this checkout")
    report(pairs, directions())


if __name__ == "__main__":
    main()
