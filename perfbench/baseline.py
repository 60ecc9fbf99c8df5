#!/usr/bin/env python3
"""Record the per-layer baseline of every workload.

Usage, from the root of a checkout: python3 perfbench/baseline.py

For each workload, runs the benchmark untraced and then traced with seed
7, and writes perfbench/baseline/<workload>.json with the traced run's
per-layer metrics, per-operation job time and gap, span self times
and spans, both runs' end-to-end metrics, and the tracing overhead (traced
minus untraced) of every end-to-end metric. Fails if any operation's gap
is negative.
"""
import argparse
import json
import re
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
SEED = 7
LINE = re.compile(r"^\[perfbench\] (\S+)\s+(\S+)\s+(\S+) (\S+)$")


def run(workload, seed, seconds, trace):
    r = subprocess.run([sys.executable, str(BENCH / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", str(trace)],
                       cwd=BENCH.parent, text=True, stdout=subprocess.PIPE)
    if r.returncode != 0:
        sys.exit(f"{workload} trace={trace} failed with exit {r.returncode}")
    return {m.group(2): float(m.group(3)) for m in map(LINE.match, r.stdout.splitlines())
            if m and m.group(1) == workload}


def main():
    argparse.ArgumentParser(description=__doc__.split("\n\n")[0]).parse_args()
    bench = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    out_dir = BENCH / "baseline"
    out_dir.mkdir(exist_ok=True)
    for w in (x["name"] for x in bench["workloads"]):
        plain = run(w, SEED, bench["run_seconds"], 0)
        traced = run(w, SEED, bench["run_seconds"], 1)
        trace = json.loads((BENCH.parent / ".perfbench_work" /
                            f"result_{w}_{SEED}_t1.json.trace.json").read_text())
        negative = [o for o in trace["ops"] if o.get("gap_ms", 0) < 0]
        if negative:
            sys.exit(f"{w}: negative gap on {negative}")
        record = {
            "workload": w, "seed": SEED,
            "end_to_end_untraced": plain,
            "end_to_end_traced": traced,
            "tracing_overhead": {k: traced[k] - plain[k] for k in plain
                                 if k in traced and k != "steal_pct"},
            **{k: trace[k] for k in ("per_layer", "self_ms_by_span_name", "ops", "spans")},
        }
        (out_dir / f"{w}.json").write_text(json.dumps(record, indent=1) + "\n")
        print(f"{w}: overhead " + ", ".join(
            f"{k} {v:+.4g}" for k, v in record["tracing_overhead"].items()))


if __name__ == "__main__":
    main()
