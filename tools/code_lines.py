#!/usr/bin/env python3
"""Main-Scala line counts, raw and code-only, per file and in total.

Code-only lines exclude blank lines, `//` line comments and the lines of
`/* ... */` and `/** ... */` block comments (a line that closes a block
comment and then carries code counts as code).

Usage (from the repo root):
    python3 tools/code_lines.py                # the working tree
    python3 tools/code_lines.py --base REV     # per-file delta against REV

With --base, only files whose counts differ are listed, then the totals
of both sides and their difference.
"""
import argparse
import os
import subprocess
import sys

ROOT = "src/main/scala"


def counts(text):
    """(raw, code) line counts of one Scala source."""
    raw = code = 0
    in_block = False
    for line in text.splitlines():
        raw += 1
        s = line.strip()
        if in_block:
            if "*/" not in s:
                continue
            in_block = False
            s = s.split("*/", 1)[1].strip()
        elif s.startswith("/*"):
            if "*/" not in s[2:]:
                in_block = True
                continue
            s = s[2:].split("*/", 1)[1].strip()
        if s and not s.startswith("//"):
            code += 1
    return raw, code


def tree_files():
    out = {}
    for d, _, names in os.walk(ROOT):
        for n in names:
            if n.endswith(".scala"):
                p = os.path.join(d, n)
                with open(p, encoding="utf-8") as f:
                    out[p] = counts(f.read())
    return out


def git(*args):
    return subprocess.run(["git", *args], check=True, capture_output=True,
                          text=True).stdout


def rev_files(rev):
    out = {}
    for p in git("ls-tree", "-r", "--name-only", rev, ROOT).split():
        if p.endswith(".scala"):
            out[p] = counts(git("show", f"{rev}:{p}"))
    return out


def total(files):
    return (sum(r for r, _ in files.values()),
            sum(c for _, c in files.values()))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", help="git revision to diff against")
    args = ap.parse_args()
    if not os.path.isdir(ROOT):
        sys.exit(f"{ROOT} not found: run from the repo root")
    now = tree_files()
    if not args.base:
        print(f"{'raw':>7} {'code':>7}  file")
        for p in sorted(now):
            r, c = now[p]
            print(f"{r:7d} {c:7d}  {p}")
        r, c = total(now)
        print(f"{r:7d} {c:7d}  total ({len(now)} files)")
        return
    base = rev_files(args.base)
    print(f"{'raw':>15} {'delta':>6} {'code':>15} {'delta':>6}  file")
    for p in sorted(set(now) | set(base)):
        b, n = base.get(p, (0, 0)), now.get(p, (0, 0))
        if b != n:
            print(f"{b[0]:7d}→{n[0]:<7d} {n[0] - b[0]:+6d} "
                  f"{b[1]:7d}→{n[1]:<7d} {n[1] - b[1]:+6d}  {p}")
    (br, bc), (nr, nc) = total(base), total(now)
    print(f"{br:7d}→{nr:<7d} {nr - br:+6d} {bc:7d}→{nc:<7d} {nc - bc:+6d}  "
          f"total ({args.base} → working tree)")


if __name__ == "__main__":
    main()
