#!/usr/bin/env python3
"""Print each test suite's wall time and the total, slowest first.

    python3 tools/test_wall.py [REPORT_DIR]

Reads the JUnit XML reports sbt writes for a test run (default
target/test-reports/*.xml). One line per suite: seconds, test count,
failures+errors, suite name. The last line is the total over all suites.
"""
import glob
import os
import signal
import sys
import xml.etree.ElementTree as ET


def main():
    signal.signal(signal.SIGPIPE, signal.SIG_DFL)  # quiet under `| head`
    report_dir = sys.argv[1] if len(sys.argv) > 1 else "target/test-reports"
    files = glob.glob(os.path.join(report_dir, "*.xml"))
    if not files:
        print(f"test_wall: no reports in {report_dir}", file=sys.stderr)
        sys.exit(2)
    rows = []
    for f in files:
        suite = ET.parse(f).getroot()
        bad = int(suite.get("failures", 0)) + int(suite.get("errors", 0))
        rows.append((float(suite.get("time", 0)), int(suite.get("tests", 0)),
                     bad, suite.get("name", os.path.basename(f))))
    rows.sort(key=lambda r: (-r[0], r[3]))
    for secs, tests, bad, name in rows:
        print(f"{secs:9.1f} s  {tests:4d} tests  {bad:3d} failed  {name}")
    print(f"{sum(r[0] for r in rows):9.1f} s  {sum(r[1] for r in rows):4d} tests  "
          f"{sum(r[2] for r in rows):3d} failed  total over {len(rows)} suites")


if __name__ == "__main__":
    main()
