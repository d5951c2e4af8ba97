#!/usr/bin/env python3
"""Merge ab_bench.sh artifacts into the comparison table (TUNE_r19's
hand-built adjudication device). The arguments are the ref runs, then
the same number of cur runs, in run order. Per query and binary, each
run's Bench median is one sample; the table shows the median and the
quartiles of those samples, the cur/ref ratio of the medians, and flags
a query `worse` when the cur median exceeds the ref median by more than
the ref's own interquartile range (with two runs a side, the range
between them). Queries absent from one binary (added since that commit,
or erroring out of every run) print n/a. Driver-side stdlib only."""
import json
import statistics
import sys


def load(path):
    with open(path) as f:
        return json.load(f)


def spread(xs):
    """(q1, median, q3) of the samples."""
    xs = sorted(xs)
    if len(xs) < 4:
        return xs[0], statistics.median(xs), xs[-1]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def main(argv):
    paths = argv[1:]
    if len(paths) < 2 or len(paths) % 2:
        print("usage: ab_table.py ref1.json .. refN.json cur1.json .. curN.json")
        return 2
    n = len(paths) // 2
    ref = [load(p) for p in paths[:n]]
    cur = [load(p) for p in paths[n:]]
    # union across ALL artifacts: a query that errored out of every cur
    # run (i.e. one the change may have BROKEN) must still appear in the
    # table body as a ref-only row
    names = sorted(set().union(*(j.get("queries", {}) for j in ref + cur)))
    print(f"{'query':28} {'ref_med':>8} {'ref_q1':>7} {'ref_q3':>7} "
          f"{'cur_med':>8} {'cur_q1':>7} {'cur_q3':>7} {'ratio':>6}"
          f"   ({n} runs a side; per-run Bench medians)")
    rt = ct = 0.0
    comparable = 0
    for q in names:
        rvals = [j["queries"][q] for j in ref if q in j.get("queries", {})]
        cvals = [j["queries"][q] for j in cur if q in j.get("queries", {})]
        r = spread(rvals) if rvals else None
        c = spread(cvals) if cvals else None
        cells = [f"{'n/a':>8} {'':>7} {'':>7}" if s is None
                 else f"{s[1]:8.3f} {s[0]:7.3f} {s[2]:7.3f}" for s in (r, c)]
        if r and c:
            rt += r[1]
            ct += c[1]
            comparable += 1
            flag = "  worse" if c[1] - r[1] > r[2] - r[0] else ""
            print(f"{q:28} {cells[0]} {cells[1]} {c[1] / r[1]:6.3f}{flag}")
        else:
            print(f"{q:28} {cells[0]} {cells[1]} {'n/a':>6}")
    if comparable:
        print(f"{'TOTAL (comparable medians)':28} {rt:8.3f} {'':>15} {ct:8.3f} "
              f"{'':>15} {ct / rt:6.3f}")
    for tag, runs in (("ref", ref), ("cur", cur)):
        for i, j in enumerate(runs, 1):
            if j.get("errors"):
                print(f"errors[{tag}{i}]: {j['errors']}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
