#!/usr/bin/env python3
"""Interleaved parent/change pairs on one workload.

Usage, from anywhere inside the git repository:

    python3 perfbench/pair.py --workload snapshot_cdc [--parent HEAD~1]
        [--change HEAD] [--pairs 10]

Checks the two revisions out as git worktrees under .perfbench_work/pair/,
puts this benchmark directory into both (so both sides run identical
benchmark code), builds each on its first run, and runs the workload in
--pairs pairs of BENCHMARK.json's run_seconds each, pair i with seed
1000+i on both sides and the side that goes first alternating. Prints, for
every end-to-end metric, each side's median and quartiles and how many
pairs the change won; ties count for neither side. steal_pct, the share of
CPU time the host took during the timed run, is a control: it shows
whether the machine was as free for both sides, and is never a gain. A
gain is claimed only from at least 10 pairs, when the change wins at least
9/10 of them, the medians differ by more than the parent's quartile
spread, and no more operations failed than at the parent. The worktrees
are removed at the end.
"""
import argparse
import json
import re
import shutil
import statistics
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
HIGHER = {"ops_per_min"}
CONTROL = {"steal_pct"}
SEED0 = 1000
SECONDS = json.loads((BENCH.parent / "BENCHMARK.json").read_text())["run_seconds"]
INFO = {"query_tail_pct", "query_samples"}
LINE = re.compile(r"^\[perfbench\] (\S+)\s+(\S+)\s+(\S+) (\S+)$")


def git(*args, cwd):
    return subprocess.run(["git", *args], cwd=cwd, check=True, text=True,
                          stdout=subprocess.PIPE).stdout.strip()


def checkout(top, dest, rev):
    git("worktree", "add", "--detach", str(dest), rev, cwd=top)
    shutil.rmtree(dest / "perfbench", ignore_errors=True)
    shutil.copytree(BENCH, dest / "perfbench", ignore=shutil.ignore_patterns(
        "target", "project", "__pycache__"))
    (dest / "perfbench/project").mkdir()
    shutil.copy(BENCH / "project/build.properties", dest / "perfbench/project/")


def run_once(tree, workload, seed):
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(SECONDS), "--trace", "0"],
                       cwd=tree, text=True, stdout=subprocess.PIPE)
    lines = r.stdout.splitlines()
    if r.returncode != 0 or not lines:
        sys.exit(f"run failed in {tree} (seed {seed}, exit {r.returncode})")
    metrics = {}
    for line in lines:
        m = LINE.match(line)
        if m and m.group(1) == workload and m.group(2) not in INFO:
            metrics[m.group(2)] = (float(m.group(3)), m.group(4))
    result = json.loads(lines[-1])
    return metrics, result["failed"]


def summary(xs):
    q1, med, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
    return med, q1, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--parent", default="HEAD~1")
    ap.add_argument("--change", default="HEAD")
    ap.add_argument("--pairs", type=int, default=10)
    a = ap.parse_args()
    top = Path(git("rev-parse", "--show-toplevel", cwd=BENCH))
    base = top / ".perfbench_work/pair"
    trees = {"parent": base / "parent", "change": base / "change"}
    for side, rev in (("parent", a.parent), ("change", a.change)):
        if trees[side].exists():
            git("worktree", "remove", "--force", str(trees[side]), cwd=top)
        checkout(top, trees[side], rev)
    vals = {"parent": [], "change": []}
    failed = {"parent": 0, "change": 0}
    try:
        for i in range(a.pairs):
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for side in order:
                m, f = run_once(trees[side], a.workload, SEED0 + i)
                vals[side].append(m)
                failed[side] += f
                print(f"pair {i} {side}: " + ", ".join(f"{k}={v[0]:.4g}" for k, v in m.items()),
                      file=sys.stderr)
    finally:
        for t in trees.values():
            git("worktree", "remove", "--force", str(t), cwd=top)
    print(f"{a.workload}: {a.pairs} pairs, parent {a.parent}, change {a.change}, "
          f"failed ops parent {failed['parent']} change {failed['change']}")
    print(f"{'metric':20s} {'unit':9s} {'parent med [q1, q3]':>32s} "
          f"{'change med [q1, q3]':>32s} {'wins':>6s}  verdict")
    for name in vals["parent"][0]:
        p = [m[name][0] for m in vals["parent"]]
        c = [m[name][0] for m in vals["change"]]
        better = (lambda x, y: x > y) if name in HIGHER else (lambda x, y: x < y)
        wins = sum(better(y, x) for x, y in zip(p, c))
        (pm, pq1, pq3), (cm, cq1, cq3) = summary(p), summary(c)
        gain = (name not in CONTROL and a.pairs >= 10 and wins >= 0.9 * a.pairs
                and abs(cm - pm) > (pq3 - pq1) and better(cm, pm)
                and failed["change"] <= failed["parent"])
        print(f"{name:20s} {vals['parent'][0][name][1]:9s} "
              f"{pm:12.4g} [{pq1:8.4g}, {pq3:8.4g}] {cm:12.4g} [{cq1:8.4g}, {cq3:8.4g}] "
              f"{wins:3d}/{a.pairs}  {'gain' if gain else '-'}")


if __name__ == "__main__":
    main()
