#!/usr/bin/env python3
"""Compares two sets of benchmark runs: parent (A) against change (B).

    python3 perfbench/compare.py <A results dir> <B results dir> [BENCHMARK.json]

Each directory is a `results` directory that `run.py` filled (one
`<workload>/<tag>.json` per run).  Run the two checkouts alternately
(ABAB...), with the same `--seconds` and the same seeds, at least ten runs
each.  Pairs are formed in run order.  For every workload and end-to-end
metric the tool prints each side's median and quartiles, the share of pairs
the change won (ties count for neither) and a verdict:

- improved: the change won at least 9/10 of the pairs, and the medians
  differ by more than the parent's spread between its quartiles;
- worse: the change's median is worse than the parent's by more than the
  metric's bound in BENCHMARK.json;
- unresolved: the parent's own spread (quartile distance / median) is wider
  than the bound and not every change run beats every parent run, or
  there are fewer than ten pairs;
- unchanged: otherwise.

Runs whose box stamps differ (cores, heap, JDK, Spark) are flagged and not
compared.  A gain does not count when the change fails more shots.
"""
import glob
import json
import os
import statistics
import sys

STAMP_KEYS = ["nproc", "cpus", "heap", "heap_mb", "jdk", "spark", "image_sha256"]


def load(d):
    runs = {}
    for f in glob.glob(os.path.join(d, "*", "*.json")):
        if os.path.basename(f).count(".") != 1:  # <tag>.raw.json, .setup1.json, ...
            continue
        with open(f) as fh:
            r = json.load(fh)
        if any(k.startswith(("wall_s", "cold_wall_s")) for k in r["metrics"]):
            r["_mtime"] = os.path.getmtime(f)
            runs.setdefault(r["workload"], []).append(r)
    for v in runs.values():
        v.sort(key=lambda r: r["_mtime"])
    return runs


def verdict(a, b, bound, lower_better):
    sign = 1 if lower_better else -1
    pairs = list(zip(a, b))
    wins = sum(1 for x, y in pairs if sign * (x - y) > 0)
    if len(a) < 4 or len(b) < 4:
        return wins, len(pairs), None, "unresolved (fewer than 4 runs a side)"
    qa, qb = statistics.quantiles(a, n=4), statistics.quantiles(b, n=4)
    ma, mb = statistics.median(a), statistics.median(b)
    spread = qa[2] - qa[0]
    all_better = all(sign * (x - y) > 0 for x in a for y in b)
    if len(pairs) >= 10 and wins >= 0.9 * len(pairs) and sign * (ma - mb) > spread:
        v = "improved"
    elif sign * (mb - ma) > bound * ma:
        v = "worse"
    elif (spread / ma > bound and not all_better) or len(pairs) < 10:
        v = "unresolved"
    else:
        v = "unchanged"
    return wins, len(pairs), (ma, qa, mb, qb), v


def main():
    if len(sys.argv) not in (3, 4):
        raise SystemExit(__doc__)
    bench = json.load(open(sys.argv[3] if len(sys.argv) == 4 else "BENCHMARK.json"))
    A, B = load(sys.argv[1]), load(sys.argv[2])
    for w in sorted(set(A) | set(B)):
        a, b = A.get(w, []), B.get(w, [])
        print(f"== {w}: {len(a)} parent runs, {len(b)} change runs")
        stamps = {json.dumps({k: r["stamp"].get(k) for k in STAMP_KEYS}, sort_keys=True)
                  for r in a + b}
        if len(stamps) > 1:
            print("  STAMPS DIFFER, not compared:")
            for s in sorted(stamps):
                print("   ", s)
            continue
        fa = sum(r["failed"] for r in a), sum(r["attempted"] for r in a)
        fb = sum(r["failed"] for r in b), sum(r["attempted"] for r in b)
        print(f"  failed shots: parent {fa[0]}/{fa[1]}, change {fb[0]}/{fb[1]}")
        for m in bench["end_to_end"]:
            name = m["name"]
            xa = [r["metrics"][name]["value"] for r in a
                  if r["metrics"].get(name, {}).get("value") is not None]
            xb = [r["metrics"][name]["value"] for r in b
                  if r["metrics"].get(name, {}).get("value") is not None]
            wins, n, stats, v = verdict(xa, xb, m["bound"], m["better"] == "lower")
            if v == "improved" and fb[0] > fa[0]:
                v = "unresolved (change fails more shots)"
            if stats is None:
                print(f"  {name:12s} {v}")
                continue
            ma, qa, mb, qb = stats
            print(f"  {name:12s} parent {ma:.4g} [{qa[0]:.4g}, {qa[2]:.4g}]  "
                  f"change {mb:.4g} [{qb[0]:.4g}, {qb[2]:.4g}] {m['unit']}  "
                  f"change/parent {mb / ma:.3f}  wins {wins}/{n}  bound {m['bound']}  -> {v}")


if __name__ == "__main__":
    main()
