#!/usr/bin/env python3
"""Builds the SCALING.md ratio table from two bench artifacts.

Usage: python3 tools/scaling_report.py BENCH_FULL_sf0.1_c32.json BENCH_FULL_testdata_sf1_c32.json
Prints a markdown table of per-query median seconds and the sf1/sf0.1
ratio, sorted by ratio descending, plus summary stats. The data grows
10x between the two artifacts, so ~10x is the linear-work expectation
for compute-bound queries; overhead-bound queries ratio < 10; candidate
structures carrying fixed small-corpus constants exceed it.
"""
import json
import sys


def load(path):
    with open(path) as f:
        d = json.load(f)
    return d


def main():
    base, big = load(sys.argv[1]), load(sys.argv[2])
    qb, qg = base["queries"], big["queries"]
    rows = []
    for q in sorted(qb):
        b, g = qb.get(q), qg.get(q)
        if b is None or g is None or b <= 0 or g <= 0:
            rows.append((float("inf"), q, b, g))
            continue
        rows.append((g / b, q, b, g))
    rows.sort(reverse=True)
    print(f"| query | sf0.1 s | sf1.0 s | ratio |")
    print(f"|---|---|---|---|")
    for r, q, b, g in rows:
        rs = "FAILED" if r == float("inf") else f"{r:.1f}x"
        print(f"| {q} | {b:.2f} | {g:.2f} | {rs} |")
    ok = [r for r, *_ in rows if r != float("inf")]
    print()
    print(f"total: {base['value']:.1f}s -> {big['value']:.1f}s "
          f"({big['value']/base['value']:.1f}x for 10x data), "
          f"median ratio {sorted(ok)[len(ok)//2]:.1f}x, "
          f"failed at sf1: {big.get('failed')}")


if __name__ == "__main__":
    main()
