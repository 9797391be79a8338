#!/usr/bin/env python3
"""Interleaved A/B of two checkouts on one perfbench workload.

    python3 tools/ab_perfbench.py <parent_dir> <change_dir> <workload> <seed_lo> <seed_hi> [out_dir]

Runs `perfbench/run.py --workload W --seed N --seconds 1 --trace 0` from the
root of each checkout for every seed N in [seed_lo, seed_hi], one pair per
seed, alternating which side runs first (the parent on even pair indices,
the change on odd ones), so host drift hits both sides equally. Each run's
last output line is kept under out_dir as <side>_<seed>.json.

Prints, per end-to-end metric of the parent's BENCHMARK.json, each side's
median and quartiles over the pairs, the ratio of the medians, and how
many pairs the change won, lost and tied (a tie counts for neither side),
then each side's failed and incorrect runs. Neither checkout is modified.
"""
import json
import os
import statistics
import subprocess
import sys


def run(checkout, workload, seed, out_path):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        print(f"ab_perfbench: {checkout} seed {seed} exited {p.returncode} with no result",
              file=sys.stderr)
        return None
    with open(out_path, "w") as f:
        f.write(lines[-1] + "\n")
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    if len(sys.argv) < 6:
        sys.exit(__doc__)
    parent, change, workload = sys.argv[1], sys.argv[2], sys.argv[3]
    seeds = range(int(sys.argv[4]), int(sys.argv[5]) + 1)
    out = sys.argv[6] if len(sys.argv) > 6 else "/tmp/ab_perfbench"
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(parent, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    sides = {"parent": parent, "change": change}
    results = {"parent": {}, "change": {}}
    for i, seed in enumerate(seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            r = run(sides[side], workload, seed, os.path.join(out, f"{side}_{seed}.json"))
            results[side][seed] = r
            if r is not None:
                print(f"== {workload} seed {seed} {side}: correct={r['correct']} "
                      f"failed={r['failed']}/{r['attempted']}", flush=True)
    pairs = [s for s in seeds if results["parent"][s] and results["change"][s]]
    print(f"\n{workload}: {len(pairs)} complete pairs, seeds {seeds.start}-{seeds.stop - 1}")
    print(f"{'metric':18s} {'parent q1/med/q3':>28s} {'change q1/med/q3':>28s} "
          f"{'ratio':>6s} {'won':>4s} {'lost':>4s} {'tied':>4s}")
    for m in metrics if pairs else []:
        name, lower = m["name"], m["better"] == "lower"
        p = [results["parent"][s]["metrics"][name]["value"] for s in pairs]
        c = [results["change"][s]["metrics"][name]["value"] for s in pairs]
        won = sum(1 for a, b in zip(p, c) if (b < a if lower else b > a))
        tied = sum(1 for a, b in zip(p, c) if a == b)
        pq, cq = quartiles(p), quartiles(c)
        ratio = cq[1] / pq[1] if pq[1] else float("nan")
        fmt = lambda q: f"{q[0]:.4g}/{q[1]:.4g}/{q[2]:.4g}"
        print(f"{name:18s} {fmt(pq):>28s} {fmt(cq):>28s} {ratio:6.3f} "
              f"{won:4d} {len(pairs) - won - tied:4d} {tied:4d}")
    for side in ("parent", "change"):
        rs = [r for r in results[side].values() if r]
        bad = sum(1 for r in rs if not r["correct"])
        failed = sum(r["failed"] for r in rs)
        attempted = sum(r["attempted"] for r in rs)
        print(f"{side}: {len(seeds) - len(rs)} runs without a result, {bad} incorrect, "
              f"{failed}/{attempted} operations failed")


if __name__ == "__main__":
    main()
