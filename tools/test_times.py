#!/usr/bin/env python3
"""Sum the JUnit `time` attributes of a test run and show where it went.

Usage: python3 tools/test_times.py [REPORT_DIR] [--top N]

REPORT_DIR defaults to target/test-reports (written by `sbt test`).
Prints the suite total, then the N slowest suites and the N slowest tests.
"""
import argparse
import glob
import os
import xml.etree.ElementTree as ET

ap = argparse.ArgumentParser()
ap.add_argument("dir", nargs="?", default="target/test-reports")
ap.add_argument("--top", type=int, default=10)
args = ap.parse_args()

suites, tests = [], []
for path in sorted(glob.glob(os.path.join(args.dir, "TEST-*.xml"))):
    root = ET.parse(path).getroot()
    suites.append((float(root.get("time", 0)), root.get("name")))
    for tc in root.iter("testcase"):
        tests.append((float(tc.get("time", 0)), f"{tc.get('classname')}::{tc.get('name')}"))

print(f"total {sum(t for t, _ in suites):.1f} s over {len(suites)} suites, {len(tests)} tests")
for title, rows in (("suites", suites), ("tests", tests)):
    print(f"slowest {title}:")
    for t, name in sorted(rows, reverse=True)[:args.top]:
        print(f"  {t:9.1f} s  {name}")
