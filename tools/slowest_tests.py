#!/usr/bin/env python3
"""Print the slowest test cases from the JUnit XML reports sbt writes.

Usage: python3 tools/slowest_tests.py [reportsDir] [n]
  reportsDir defaults to target/test-reports, n to 10.

One line per case, slowest first: seconds, then `Suite::test name` (the
form the suite prints).
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET


def cases(reports_dir):
    for path in sorted(glob.glob(os.path.join(reports_dir, "*.xml"))):
        for tc in ET.parse(path).getroot().iter("testcase"):
            yield float(tc.get("time") or 0.0), f"{tc.get('classname')}::{tc.get('name')}"


def main(argv):
    reports_dir = argv[1] if len(argv) > 1 else "target/test-reports"
    n = int(argv[2]) if len(argv) > 2 else 10
    found = sorted(cases(reports_dir), key=lambda c: -c[0])
    if not found:
        sys.exit(f"no test cases under {reports_dir}/*.xml (run `sbt test` first)")
    for secs, name in found[:n]:
        print(f"{secs:9.3f}s  {name}")


if __name__ == "__main__":
    main(sys.argv)
