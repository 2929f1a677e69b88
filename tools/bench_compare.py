#!/usr/bin/env python3
"""Compare per-query seconds across bench_full.json sidecars (dev tool).

Usage: python3 tools/bench_compare.py A1.json[,A2.json...] B1.json[,B2.json...]

Side A and side B are each one or more bench_full.json files; the tool
prints per-query medians for both sides, the delta, and the totals,
sorted by |delta| descending. For harness-level A/Bs where same-JVM
interleaving is impossible: alternate full graft.Bench runs of the two
revisions and copy each run's target/bench_full.json aside.
"""
import json
import statistics
import sys


def load_side(arg):
    per = {}
    metas = []
    for f in arg.split(","):
        d = json.load(open(f))
        d = d.get("parsed", d)
        metas.append((f, d.get("value"), d.get("staging_sec"),
                      d.get("warmup_sec")))
        for k, v in d.get("queries", {}).items():
            per.setdefault(k, []).append(v)
    return per, metas


def main():
    a, ma = load_side(sys.argv[1])
    b, mb = load_side(sys.argv[2])
    for f, tot, st, wu in ma:
        print(f"A {f}: total={tot} staging={st} warmup={wu}")
    for f, tot, st, wu in mb:
        print(f"B {f}: total={tot} staging={st} warmup={wu}")
    common = sorted(set(a) & set(b))
    rows = []
    for q in common:
        am = statistics.median(a[q])
        bm = statistics.median(b[q])
        rows.append((q, am, bm, bm - am))
    rows.sort(key=lambda r: -abs(r[3]))
    asum = sum(r[1] for r in rows)
    bsum = sum(r[2] for r in rows)
    print(f"\n{'query':40s} {'A_med':>8s} {'B_med':>8s} {'B-A':>8s}")
    for q, am, bm, d in rows[:60]:
        print(f"{q:40s} {am:8.2f} {bm:8.2f} {d:+8.2f}")
    print(f"\ncommon {len(rows)} queries: A_sum={asum:.1f} B_sum={bsum:.1f} "
          f"delta={bsum - asum:+.1f}")


if __name__ == "__main__":
    main()
