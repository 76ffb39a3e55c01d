#!/usr/bin/env python3
"""Sum the suite times of the last sbt test run against tier-1's timeout.

Reads every target/test-reports/TEST-*.xml (the JUnit reports sbt
writes per suite), prints the total suite seconds as a share of the
tier-1 timeout, then the 10 slowest suites.

usage: python3 scripts/test_times.py   (from the repo root)
"""
import glob
import xml.etree.ElementTree as ET

REPORTS = "target/test-reports/TEST-*.xml"
TIER1_TIMEOUT_S = 2670
TOP = 10


def main() -> None:
    suites = []
    for path in glob.glob(REPORTS):
        root = ET.parse(path).getroot()
        suites.append((float(root.get("time", 0)), root.get("name"),
                       int(root.get("tests", 0))))
    if not suites:
        raise SystemExit(f"no reports match {REPORTS}")
    total = sum(t for t, _, _ in suites)
    tests = sum(n for _, _, n in suites)
    print(f"{len(suites)} suites, {tests} tests: {total:.0f} s of "
          f"{TIER1_TIMEOUT_S} s timeout ({100 * total / TIER1_TIMEOUT_S:.0f} %)")
    for t, name, n in sorted(suites, reverse=True)[:TOP]:
        print(f"{t:8.1f} s  {n:4d}  {name}")


if __name__ == "__main__":
    main()
