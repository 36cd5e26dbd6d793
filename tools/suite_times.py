#!/usr/bin/env python3
"""Per-suite wall times of the last sbt test run, slowest first.

Usage: python3 tools/suite_times.py [reportDir]

Reads every TEST-*.xml JUnit report in reportDir (default
target/test-reports, where sbt writes them) and prints one line per
suite — seconds, test count, failures + errors, name — then the total.
It reports only; it enforces no budget.
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET


def suites(report_dir):
    for path in sorted(glob.glob(os.path.join(report_dir, "TEST-*.xml"))):
        root = ET.parse(path).getroot()
        # a report is one <testsuite>, or a <testsuites> wrapper of them
        for s in ([root] if root.tag == "testsuite" else root.iter("testsuite")):
            bad = int(s.get("failures", 0)) + int(s.get("errors", 0))
            yield s.get("name", os.path.basename(path)), float(s.get("time", 0)), int(s.get("tests", 0)), bad


def main():
    report_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join("target", "test-reports")
    rows = sorted(suites(report_dir), key=lambda r: -r[1])
    if not rows:
        sys.exit(f"no TEST-*.xml reports under {report_dir}")
    print(f"{'seconds':>9} {'tests':>5} {'bad':>4}  suite")
    for name, secs, tests, bad in rows:
        print(f"{secs + 0.0:9.1f} {tests:5d} {bad:4d}  {name}")
    print(f"{sum(r[1] for r in rows):9.1f} {sum(r[2] for r in rows):5d} "
          f"{sum(r[3] for r in rows):4d}  total ({len(rows)} suites)")


if __name__ == "__main__":
    main()
