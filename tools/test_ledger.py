#!/usr/bin/env python3
"""Test-time ledger: per-suite seconds and the slowest cases of an sbt
test run, read from the JUnit XML reports sbt writes to
target/test-reports/. Stdlib only.

  python3 tools/test_ledger.py                      # target/test-reports
  python3 tools/test_ledger.py --before OLD_DIR     # before/after columns,
                                                    # plus the cases added and gone

Suite seconds are the reports' own `time` attribute (the suite's wall
time inside sbt); they sum to less than the sbt wall time, which also
pays compilation and JVM start."""
import argparse
import glob
import os
import sys
import xml.etree.ElementTree as ET

REPORTS = "target/test-reports"
TOP = 20


def load(reports_dir):
    """(suites, cases): {suite: (seconds, tests, failed)} and
    {(suite, case): seconds} from every TEST-*.xml in `reports_dir`."""
    suites, cases = {}, {}
    paths = sorted(glob.glob(os.path.join(reports_dir, "TEST-*.xml")))
    if not paths:
        sys.exit(f"no TEST-*.xml reports in {reports_dir}")
    for path in paths:
        root = ET.parse(path).getroot()
        for suite in ([root] if root.tag == "testsuite" else root.iter("testsuite")):
            name = suite.get("name")
            failed = int(suite.get("failures", 0)) + int(suite.get("errors", 0))
            suites[name] = (float(suite.get("time", 0)), int(suite.get("tests", 0)), failed)
            for case in suite.iter("testcase"):
                cases[(name, case.get("name"))] = float(case.get("time", 0))
    return suites, cases


def short(suite):
    return suite[len("graft."):] if suite.startswith("graft.") else suite


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--before", help="reports dir of the run to compare against")
    args = ap.parse_args(argv)

    suites, cases = load(REPORTS)
    before_suites, before_cases = load(args.before) if args.before else ({}, {})

    def row(label, now, then):
        if not args.before:
            return f"{label:60} {now:9.1f}"
        if then is None:
            return f"{label:60} {'-':>9} {now:9.1f} {'':>9}"
        if now is None:
            return f"{label:60} {then:9.1f} {'-':>9} {'':>9}"
        return f"{label:60} {then:9.1f} {now:9.1f} {now - then:+9.1f}"

    head = f"{'suite':60} {'before_s':>9} {'after_s':>9} {'delta_s':>9}" if args.before \
        else f"{'suite':60} {'s':>9}"
    print(head)
    names = sorted(set(suites) | set(before_suites),
                   key=lambda n: -max(suites.get(n, (0,))[0], before_suites.get(n, (0,))[0]))
    for n in names:
        now = suites[n][0] if n in suites else None
        then = before_suites[n][0] if n in before_suites else None
        print(row(short(n), now, then))
    total = sum(v[0] for v in suites.values())
    tests = sum(v[1] for v in suites.values())
    failed = sum(v[2] for v in suites.values())
    btotal = sum(v[0] for v in before_suites.values())
    print(row(f"TOTAL ({len(suites)} suites, {tests} tests, {failed} failed)",
              total, btotal if args.before else None))

    print()
    print(f"{TOP} slowest cases" + (" (after; before in the first column)" if args.before else ""))
    for (suite, case), t in sorted(cases.items(), key=lambda kv: -kv[1])[:TOP]:
        label = f"{short(suite)}: {case}"
        if len(label) > 60:
            label = label[:57] + "..."
        print(row(label, t, before_cases.get((suite, case)) if args.before else None))

    if args.before:
        added = sorted((k for k in cases if k not in before_cases), key=lambda k: -cases[k])
        gone = sorted(k for k in before_cases if k not in cases)
        print()
        print(f"{len(added)} cases new since before, {len(gone)} gone")
        for suite, case in added:
            print(f"  {cases[(suite, case)]:7.2f} s  {short(suite)}: {case}")
        for suite, case in gone:
            print(f"  gone       {short(suite)}: {case}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
