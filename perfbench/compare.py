#!/usr/bin/env python3
"""Compare two sets of benchmark runs (files written by sweep.py).

    python3 perfbench/compare.py parent.jsonl change.jsonl

Run from the root of a checkout (bounds come from BENCHMARK.json).

For every workload x end-to-end metric it prints each side's median and
quartiles, the pairs (same workload and seed) the change won, and a
verdict:

  better      the change won at least 9/10 of the pairs and its median
              moved by more than the parent's interquartile distance;
  worse       its median is worse than the parent's by more than the
              metric's bound in BENCHMARK.json;
  unresolved  the parent's own spread (IQR / median) is wider than the
              bound, so "no worse" cannot be shown;
  same        none of the above: no worse than the bound allows.

Traced runs (trace 1) in both files add a second table: per-layer counts
(jobs, stages, tasks, bytes, ...) whose medians differ, apart from any
wall time. A file that holds both runs of a seed (trace 0 and trace 1)
also gives the tracing overhead: the traced loop's docs_per_s and
op_p50_ms against the untraced run's, as the median over seeds.
"""
import argparse
import json
import sys
from collections import defaultdict
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from lib import stats  # noqa: E402

COUNT_MARKERS = ("jobs", "stages", "tasks", "bytes", "compactions", "files_per_cell",
                 "tombstone_ratio")


def load(path):
    """{(workload, trace): {seed: {metric: value}}} for the runs that
    produced a result; a later run of the same key and seed replaces an
    earlier one."""
    runs = defaultdict(dict)
    for line in Path(path).read_text().splitlines():
        rec = json.loads(line)
        if rec.get("result"):
            runs[(rec["workload"], rec["trace"])][rec["seed"]] = {
                k: v["value"] for k, v in rec["result"]["metrics"].items()}
    return runs


# (untraced end-to-end metric, its traced counterpart in the trace-1 run)
TRACED = (("docs_per_s", "trace.docs_per_s"), ("op_p50_ms", "trace.op_p50_ms"))


def tracing_overhead(runs, workload):
    """{metric: (median % change traced vs untraced, seeds)} over the
    seeds with both a trace-0 and a trace-1 run of `workload`."""
    plain, traced = runs.get((workload, 0), {}), runs.get((workload, 1), {})
    seeds = sorted(set(plain) & set(traced))
    out = {}
    for m, t in TRACED:
        pct = [(traced[s][t] / plain[s][m] - 1.0) * 100.0 for s in seeds
               if plain[s].get(m) and t in traced[s]]
        if pct:
            out[m] = (stats.median(pct), len(pct))
    return out


def verdict(a, b, pairs, better, bound):
    """Verdict for one metric: `a`, `b` are each side's values, `pairs`
    the (a, b) values of runs with the same seed."""
    sign = 1.0 if better == "higher" else -1.0
    med_a, med_b = stats.median(a), stats.median(b)
    q1, _, q3 = stats.quartiles(a)
    wins = sum(1 for x, y in pairs if sign * (y - x) > 0)
    gain = sign * (med_b - med_a)
    if pairs and wins >= 0.9 * len(pairs) and gain > (q3 - q1):
        return "better", wins
    if med_a and -gain / abs(med_a) > bound:
        return ("worse" if stats.spread(a) <= bound else "unresolved"), wins
    if stats.spread(a) > bound:
        return "unresolved", wins
    return "same", wins


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    a = ap.parse_args()
    bench = json.loads(Path("BENCHMARK.json").read_text())
    A, B = load(a.parent), load(a.change)
    worst = "same"
    print(f"{'workload':14} {'metric':14} {'parent median [q1, q3]':>34} "
          f"{'change median [q1, q3]':>34} {'won':>6}  verdict")
    for w in [x["name"] for x in bench["workloads"]]:
        ra, rb = A.get((w, 0), {}), B.get((w, 0), {})
        if not ra or not rb:
            continue
        for m in bench["end_to_end"]:
            name = m["name"]
            va = [r[name] for r in ra.values() if name in r]
            vb = [r[name] for r in rb.values() if name in r]
            if not va or not vb:
                continue
            pairs = [(ra[s][name], rb[s][name]) for s in sorted(set(ra) & set(rb))]
            v, wins = verdict(va, vb, pairs, m["better"], m["bound"])
            if v in ("worse", "unresolved"):
                worst = "worse" if v == "worse" or worst == "worse" else v
            qa, qb = stats.quartiles(va), stats.quartiles(vb)
            print(f"{w:14} {name:14} {qa[1]:12.4g} [{qa[0]:.4g}, {qa[2]:.4g}]".ljust(64) +
                  f"{qb[1]:12.4g} [{qb[0]:.4g}, {qb[2]:.4g}]".ljust(36) +
                  f"{wins:>3}/{len(pairs):<3} {v}")
    rows = []
    for w in [x["name"] for x in bench["workloads"]]:
        ra, rb = A.get((w, 1), {}), B.get((w, 1), {})
        if not ra or not rb:
            continue
        for m in bench["per_layer"]:
            name = m["name"]
            if not any(k in name for k in COUNT_MARKERS):
                continue
            va = [r[name] for r in ra.values() if name in r]
            vb = [r[name] for r in rb.values() if name in r]
            if va and vb and stats.median(va) != stats.median(vb):
                ma, mb = stats.median(va), stats.median(vb)
                rel = f"{(mb / ma - 1) * 100:+.1f}%" if ma else "new"
                rows.append(f"{w:14} {name:44} {ma:14.6g} -> {mb:<14.6g} {rel}")
    if rows:
        print("\nper-layer counts that changed (medians of traced runs):")
        print("\n".join(rows))
    elif any(k[1] == 1 for k in A) and any(k[1] == 1 for k in B):
        print("\nper-layer counts: no median changed")
    overhead = []
    for side, runs in (("parent", A), ("change", B)):
        for w in [x["name"] for x in bench["workloads"]]:
            for m, (pct, n) in tracing_overhead(runs, w).items():
                overhead.append(f"{side:7} {w:14} {m:12} {pct:+7.1f}% over {n} seeds")
    if overhead:
        print("\ntracing overhead (traced run vs untraced run of the same seed):")
        print("\n".join(overhead))
    print(f"\noverall: {worst}")


if __name__ == "__main__":
    main()
