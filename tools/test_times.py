#!/usr/bin/env python3
"""Per-suite test times from the JUnit XML reports sbt writes.

Usage: python3 tools/test_times.py [REPORT_DIR]

REPORT_DIR defaults to target/test-reports. Prints the suite count, the
test count, the summed suite time and the ten slowest suites, so the
check time of two checkouts can be compared side by side after each has
run the same test command.
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET

SLOWEST = 10


def main() -> int:
    report_dir = sys.argv[1] if len(sys.argv) > 1 else "target/test-reports"
    suites = []
    for path in sorted(glob.glob(os.path.join(report_dir, "*.xml"))):
        root = ET.parse(path).getroot()
        for s in root.iter("testsuite"):
            suites.append((float(s.get("time", 0)), s.get("name", path),
                           int(s.get("tests", 0))))
    if not suites:
        print(f"no JUnit reports under {report_dir}", file=sys.stderr)
        return 1
    total = sum(t for t, _, _ in suites)
    tests = sum(n for _, _, n in suites)
    print(f"suites {len(suites)}  tests {tests}  total {total:.1f} s")
    for t, name, n in sorted(suites, reverse=True)[:SLOWEST]:
        print(f"{t:8.1f} s  {n:4d}  {name}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
