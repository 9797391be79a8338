#!/usr/bin/env python3
"""Counter repeatability check for the traced ledger.

    python3 perfbench/repeat.py --workload <name> --seed <n> [--seconds <s>]

Runs the traced benchmark twice with one seed and compares the per-operation
counters of the two runs (jobs, tasks, shuffle bytes, input/output rows,
files read) and the per-commit counters (files added/removed, bytes and rows
added) over the operations both runs completed. Prints, per counter, whether
it repeated exactly, and the log's version and checkpoint counts when both
runs completed the same number of operations.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys


def traced_run(root, workload, seed, seconds, tag):
    cmd = [sys.executable, os.path.join(root, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"]
    p = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        sys.exit(f"traced run {tag} failed")
    src = os.path.join(root, ".bench_work", f"ledger-{workload}-{seed}.json")
    dst = os.path.join(root, ".bench_work", f"ledger-{workload}-{seed}-{tag}.json")
    shutil.copy(src, dst)
    with open(dst) as f:
        return json.load(f)


def compare(a, b, key_fields):
    """{counter: (equal, total)} over the common prefix of two record lists."""
    out = {}
    n = min(len(a), len(b))
    for i in range(n):
        same_op = all(a[i].get(k) == b[i].get(k) for k in key_fields)
        for k, v in a[i].items():
            if k in key_fields or k == "i":
                continue
            eq, tot = out.get(k, (0, 0))
            out[k] = (eq + (1 if same_op and v == b[i].get(k) else 0), tot + 1)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=1)
    a = ap.parse_args()
    root = os.getcwd()
    r1 = traced_run(root, a.workload, a.seed, a.seconds, "a")
    r2 = traced_run(root, a.workload, a.seed, a.seconds, "b")
    result = {"workload": a.workload, "seed": a.seed,
              "ops": [len(r1["ops"]), len(r2["ops"])],
              "commits": [len(r1["commits"]), len(r2["commits"])]}
    counters = {}
    for k, (eq, tot) in sorted(compare(r1["ops"], r2["ops"], ("kind", "name")).items()):
        counters[f"op.{k}"] = "exact" if eq == tot else f"differs in {tot - eq} of {tot}"
    for k, (eq, tot) in sorted(compare(r1["commits"], r2["commits"], ("kind",)).items()):
        counters[f"commit.{k}"] = "exact" if eq == tot else f"differs in {tot - eq} of {tot}"
    if len(r1["ops"]) == len(r2["ops"]):
        for k in ("versions", "checkpoints"):
            counters[f"log.{k}"] = ("exact" if r1["log"][k] == r2["log"][k]
                                    else f"{r1['log'][k]} vs {r2['log'][k]}")
    else:
        counters["log.versions"] = "not compared: the runs completed different numbers of cycles"
    result["counters"] = counters
    print(json.dumps(result, indent=2))


if __name__ == "__main__":
    main()
