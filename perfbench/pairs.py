#!/usr/bin/env python3
"""Gated pairs: compare one workload between two commits.

    python3 perfbench/pairs.py --parent <rev|dir> --change <rev|dir> \\
        --workload etl_delta [--metric wall_s] [--pairs 10] [--seconds 15]

Each side is a git revision of this repository, exported with ``git
archive``, or a directory holding a checkout, copied; both land under
.bench_pairs/, and a directory given as a side is never written to.
Both sides run this copy of perfbench/ (copied over each side's own), so
only the program differs. Each pair waits until the 1-minute load
average is below MAX_LOAD (at most MAX_WAIT_S), then runs both sides on
the same seed in alternating order (parent first on even pairs); seeds
differ between pairs. It prints each side's median and quartiles of the metric and the
share of pairs the change wins (ties count for neither), and applies the
rule of the choosing-metrics guide §8: a gain needs at least 9 wins in
10 and medians further apart than the parent's interquartile distance.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402

MAX_LOAD = 1.0
MAX_WAIT_S = 600
FIRST_SEED = 1000
PAIRS_DIR = os.path.join(ROOT, ".bench_pairs")


def checkout(side):
    """A private copy of one side under .bench_pairs/, with this
    perfbench/ in place of its own."""
    if os.path.isdir(side):
        src = os.path.realpath(side)
        path = os.path.join(PAIRS_DIR, "dir-" + hashlib.sha256(
            src.encode()).hexdigest()[:12])
        shutil.rmtree(path, ignore_errors=True)
        shutil.copytree(src, path, ignore=shutil.ignore_patterns(
            ".git", ".bench_*", "target", "__pycache__"))
    else:
        rev = subprocess.run(["git", "rev-parse", "--short", side], cwd=ROOT,
                             check=True, text=True,
                             stdout=subprocess.PIPE).stdout.strip()
        path = os.path.join(PAIRS_DIR, rev)
        if not os.path.isdir(path):
            os.makedirs(path)
            archive = subprocess.run(["git", "archive", rev], cwd=ROOT,
                                     check=True, stdout=subprocess.PIPE)
            subprocess.run(["tar", "-x", "-C", path], input=archive.stdout,
                           check=True)
    bench = os.path.join(path, "perfbench")
    shutil.rmtree(bench, ignore_errors=True)
    shutil.copytree(HERE, bench, ignore=shutil.ignore_patterns(
        "__pycache__"))
    return path


def wait_quiet():
    t0 = time.time()
    while os.getloadavg()[0] >= MAX_LOAD:
        if time.time() - t0 > MAX_WAIT_S:
            print(f"[pairs] load {os.getloadavg()[0]:.2f} never fell below "
                  f"{MAX_LOAD}; running anyway", file=sys.stderr)
            return
        time.sleep(5)


def run(path, a, seed):
    r = subprocess.run(
        ["python3", "perfbench/run.py", "--workload", a.workload, "--seed",
         str(seed), "--seconds", str(a.seconds), "--trace", "0"],
        cwd=path, text=True, stdout=subprocess.PIPE, stderr=subprocess.PIPE)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        raise SystemExit(f"{path}: benchmark failed\n{r.stderr[-2000:]}")
    res = json.loads(lines[-1])
    if not res["correct"]:
        raise SystemExit(f"{path}: outputs failed their checks\n{r.stdout}")
    return res["metrics"][a.metric]["value"]


def verdict(parent, change, lower):
    """(wins, gain) for paired samples: the change's wins, ties counting
    for neither, and whether it wins at least 9 in 10 pairs with medians
    further apart than the parent's interquartile distance."""
    wins = sum((c < p) if lower else (c > p) for p, c in zip(parent, change))
    q1, pmed, q3 = stats.quartiles(parent)
    cmed = stats.median(change)
    better = (cmed < pmed) if lower else (cmed > pmed)
    gain = (wins >= 0.9 * len(parent) and better
            and abs(cmed - pmed) > q3 - q1)
    return wins, gain


def summary(name, xs):
    q1, med, q3 = stats.quartiles(xs)
    print(f"{name:8s} median {med:.6g}  q1 {q1:.6g}  q3 {q3:.6g}  "
          f"n {len(xs)}")
    return q1, med, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--metric", default="wall_s")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=float)
    a = ap.parse_args()
    if a.pairs < 10:
        ap.error("the pairs rule needs at least 10 pairs")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    metric = {m["name"]: m for m in spec["end_to_end"]}[a.metric]
    if a.seconds is None:
        a.seconds = spec["run_seconds"]
    lower = metric["better"] == "lower"
    sides = {"parent": checkout(a.parent), "change": checkout(a.change)}
    got = {"parent": [], "change": []}
    for i in range(a.pairs):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            wait_quiet()
            got[side].append(run(sides[side], a, FIRST_SEED + i))
        print(f"[pairs] {i + 1}: parent {got['parent'][-1]:.6g}  "
              f"change {got['change'][-1]:.6g}", file=sys.stderr)
    summary("parent", got["parent"])
    summary("change", got["change"])
    wins, gain = verdict(got["parent"], got["change"], lower)
    print(f"change wins {wins}/{a.pairs} pairs ({wins / a.pairs:.0%}) on "
          f"{a.workload} {a.metric} ({metric['better']} is better)")
    print("gain shown by the pairs rule" if gain
          else "no gain shown by the pairs rule")


if __name__ == "__main__":
    main()
