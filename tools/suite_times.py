#!/usr/bin/env python3
"""Summarise a ScalaTest run from its JUnit XML reports.

    python3 tools/suite_times.py [REPORT_DIR] [--top N]

REPORT_DIR defaults to target/test-reports (what `sbt test` writes). Prints
the sum of suite times against the Tier-1 timeout, the test, failure, error
and skip counts, and the N slowest suites (default 10).
"""
import argparse
import glob
import os
import sys
import xml.etree.ElementTree as ET

TIER1_TIMEOUT_S = 2670


def suites(report_dir):
    for path in sorted(glob.glob(os.path.join(report_dir, "TEST-*.xml"))):
        root = ET.parse(path).getroot()
        for s in ([root] if root.tag == "testsuite" else root.iter("testsuite")):
            yield {
                "name": s.get("name"),
                "time": float(s.get("time") or 0.0),
                "tests": int(s.get("tests") or 0),
                "failures": int(s.get("failures") or 0),
                "errors": int(s.get("errors") or 0),
                "skipped": int(s.get("skipped") or 0),
                "timestamp": s.get("timestamp") or "",
            }


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("report_dir", nargs="?", default="target/test-reports")
    ap.add_argument("--top", type=int, default=10)
    args = ap.parse_args()
    rows = list(suites(args.report_dir))
    if not rows:
        sys.exit(f"suite_times: no TEST-*.xml reports under {args.report_dir}")
    total = sum(r["time"] for r in rows)
    count = lambda k: sum(r[k] for r in rows)
    stamps = sorted(r["timestamp"] for r in rows if r["timestamp"])
    print(f"suites {len(rows)}  tests {count('tests')}  failures {count('failures')}  "
          f"errors {count('errors')}  skipped {count('skipped')}")
    print(f"sum of suite time {total:,.0f} s "
          f"({100 * total / TIER1_TIMEOUT_S:.0f}% of the {TIER1_TIMEOUT_S:,} s Tier-1 timeout)")
    if stamps:
        print(f"suite start times {stamps[0]} .. {stamps[-1]}")
    print(f"slowest {min(args.top, len(rows))}:")
    for r in sorted(rows, key=lambda r: -r["time"])[:args.top]:
        print(f"  {r['time']:8.1f} s  {r['tests']:4d} tests  {r['name']}")
    return 1 if count("failures") or count("errors") else 0


if __name__ == "__main__":
    sys.exit(main())
