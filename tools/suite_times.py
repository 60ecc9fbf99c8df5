#!/usr/bin/env python3
"""Print each test suite's wall time from sbt's JUnit reports.

Usage, from the root of a checkout, after a test run:

    python3 tools/suite_times.py [REPORT_DIR]

REPORT_DIR defaults to target/test-reports; every TEST-*.xml in it is
one suite. Suites print slowest first, then the total and its share of
the Tier-1 test step's 2670 s budget. sbt rewrites
a suite's report only when the suite runs, so delete the directory
before the run you want to measure, or check the `started` column.
"""
import sys
import xml.etree.ElementTree as ET
from pathlib import Path

BUDGET_S = 2670  # the Tier-1 test step's wall-time limit


def main():
    report_dir = sys.argv[1] if len(sys.argv) > 1 else "target/test-reports"
    files = sorted(Path(report_dir).glob("TEST-*.xml"))
    if not files:
        sys.exit(f"no TEST-*.xml under {report_dir}")
    rows = []
    for f in files:
        s = ET.parse(f).getroot()
        bad = int(s.get("failures", 0)) + int(s.get("errors", 0))
        rows.append((float(s.get("time", 0)), s.get("name", f.stem),
                     int(s.get("tests", 0)), bad, s.get("timestamp", "")))
    rows.sort(reverse=True)
    total = sum(r[0] for r in rows)
    print(f"{'suite':<36} {'seconds':>8} {'share':>6} {'tests':>5} "
          f"{'failed':>6}  started")
    for t, name, tests, bad, ts in rows:
        print(f"{name:<36} {t:8.1f} {t / total:6.1%} {tests:5d} {bad:6d}  {ts}")
    print(f"{'total':<36} {total:8.1f} {total / BUDGET_S:6.1%} of the "
          f"{BUDGET_S} s budget")


if __name__ == "__main__":
    main()
