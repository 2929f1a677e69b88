#!/usr/bin/env python3
"""Interleaved A/B of two revisions on one etlbench workload.

    python3 tools/etlbench_ab.py REV_A REV_B --workload xml_incremental \\
        --seeds 31 32 33 34 35 36 37 38 39 40 [--trace 0]

Run from the repository root. Each revision is exported with `git archive`
into its own fresh directory under --workdir (default target/etlbench_ab)
and built there from source, so both sides are built the way the benchmark
builds a checkout. Then for every seed one run of each side is made, as a
pair, and the side that goes first alternates from pair to pair, so that a
slow phase of the host is shared between the sides. Every run is
`python3 etlbench/run.py` in that revision's tree, for the `run_seconds`
of the trees' BENCHMARK.json (the two trees must agree on it).

The report gives, per metric, each side's median, quartiles and IQR/median
over its correct runs, the change of the medians, and how many of all the
pairs run B won (better as declared in BENCHMARK.json; lower when a metric
is not declared there). A pair is won only when both of its runs are
`correct: true` and B's value is better, so a failed or incorrect B run is
a loss. A claim holds when at least ten pairs were run, B wins at least
nine tenths of them, the medians differ by more than A's IQR, and B has no
more incorrect runs than A. The raw results go to <workdir>/ab-<workload>.json; runs that are not
`correct: true` are listed and make the exit status 1.

To measure uncommitted work, stage it (`git add -A`) and pass
`$(git stash create)` as a revision; that makes a commit object of the
index and working tree without touching any branch or the stash list.

Never copy a built checkout (cp -r, rsync) to make a side: the copied
target/ carries sbt's incremental-compiler analysis, which records the
original checkout's absolute class-file paths, and compiling the copy then
deletes the original checkout's classes. Always export a fresh tree.
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def git(*args):
    return subprocess.run(["git", "-C", ROOT] + list(args), check=True,
                          capture_output=True, text=True).stdout.strip()


def export(rev, label, workdir):
    """A fresh, unbuilt tree of `rev` under workdir; returns (sha, path)."""
    sha = git("rev-parse", "--verify", f"{rev}^{{commit}}")
    path = os.path.join(workdir, f"{label}-{sha[:12]}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    archive = subprocess.Popen(["git", "-C", ROOT, "archive", "--format=tar", sha],
                               stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", path], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        sys.exit(f"git archive {rev} failed")
    return sha, path


def build(tree):
    """Build the tree the way etlbench/run.py does before its first run."""
    code = ("import sys; sys.path.insert(0, 'etlbench'); import run; "
            "_, _, built = run.build(); print('built' if built else 'up to date')")
    r = subprocess.run([sys.executable, "-c", code], cwd=tree, capture_output=True, text=True)
    if r.returncode != 0:
        sys.exit(f"build of {tree} failed:\n{r.stderr[-2000:]}")


def run_one(tree, workload, seed, seconds, trace):
    """One benchmark run; returns its parsed result, or None if it failed."""
    cmd = [sys.executable, "etlbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", trace]
    r = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    if r.returncode != 0 or not lines:
        print(f"  run failed ({tree}, seed {seed}): {r.stderr.strip()[-500:]}", file=sys.stderr)
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def benchmark(tree):
    """(run_seconds, metric name -> 'lower' or 'higher') from the tree's BENCHMARK.json."""
    with open(os.path.join(tree, "BENCHMARK.json")) as f:
        b = json.load(f)
    better = {m["name"]: m["better"] for m in b["end_to_end"] + b.get("per_layer", [])}
    return b["run_seconds"], better


def correct(run):
    return bool(run and run.get("correct"))


def report(results, better):
    """Per-metric table over all pairs in `results`; a pair with an incorrect run is a loss."""
    runs = {s: [r[s] for r in results if correct(r[s])] for s in ("a", "b")}
    bad_a, bad_b = (len(results) - len(runs[s]) for s in ("a", "b"))
    names = []
    for run in runs["a"] + runs["b"]:
        names += [n for n in run["metrics"] if n not in names]
    head = (f"{'metric':<26}{'A median':>11}{'A IQR/med':>10}{'B median':>11}"
            f"{'B IQR/med':>10}{'change':>9}{'B wins':>8}  claim")
    print(head)
    print("-" * len(head))
    rows = {}
    value = lambda run, n: run["metrics"][n]["value"] if n in run["metrics"] else None
    for n in names:
        xa = [v for v in (value(r, n) for r in runs["a"]) if v is not None]
        xb = [v for v in (value(r, n) for r in runs["b"]) if v is not None]
        if not xa or not xb:
            continue
        ma, mb = statistics.median(xa), statistics.median(xb)
        (a1, a3), (b1, b3) = quartiles(xa), quartiles(xb)
        lower = better.get(n, "lower") == "lower"
        wins = 0
        for r in results:
            if correct(r["a"]) and correct(r["b"]):
                x, y = value(r["a"], n), value(r["b"], n)
                wins += x is not None and y is not None and (y < x if lower else y > x)
        gained = mb < ma if lower else mb > ma
        claim = (len(results) >= 10 and wins >= 0.9 * len(results) and gained and abs(mb - ma) > (a3 - a1)
                 and bad_b <= bad_a)
        rel = lambda q1, q3, m: (q3 - q1) / m if m else 0.0
        change = (mb - ma) / ma if ma else 0.0
        print(f"{n:<26}{ma:>11.4g}{rel(a1, a3, ma):>10.3f}{mb:>11.4g}{rel(b1, b3, mb):>10.3f}"
              f"{change:>+9.1%}{wins:>5}/{len(results):<2}  {'yes' if claim else 'no'}")
        rows[n] = {"a": {"median": ma, "q1": a1, "q3": a3}, "b": {"median": mb, "q1": b1, "q3": b3},
                   "b_wins": wins, "pairs": len(results), "claim": claim}
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("rev_a")
    ap.add_argument("rev_b")
    ap.add_argument("--workload", required=True, choices=("xml_batch", "xml_incremental"))
    ap.add_argument("--seeds", required=True, type=int, nargs="+")
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--workdir", default=os.path.join(ROOT, "target", "etlbench_ab"))
    args = ap.parse_args()

    workdir = os.path.abspath(args.workdir)
    os.makedirs(workdir, exist_ok=True)
    sides = {}
    for label, rev in (("a", args.rev_a), ("b", args.rev_b)):
        sha, tree = export(rev, label, workdir)
        print(f"{label.upper()}: {rev} = {sha[:12]}, building in {tree}", flush=True)
        build(tree)
        sides[label] = tree
    seconds, better = benchmark(sides["b"])
    seconds_a = benchmark(sides["a"])[0]
    if seconds_a != seconds:
        sys.exit(f"the revisions' BENCHMARK.json differ in run_seconds: A {seconds_a}, B {seconds}")

    results, bad = [], []
    for i, seed in enumerate(args.seeds):
        order = ("a", "b") if i % 2 == 0 else ("b", "a")
        got = {}
        for label in order:
            t0 = time.monotonic()
            got[label] = run_one(sides[label], args.workload, seed, seconds, args.trace)
            ok = correct(got[label])
            print(f"pair {i + 1}/{len(args.seeds)} seed {seed} {label.upper()}: "
                  f"{'correct' if ok else 'NOT CORRECT'} in {time.monotonic() - t0:.0f} s", flush=True)
            if not ok:
                bad.append((label, seed))
        results.append({"seed": seed, "first": order[0], "a": got["a"], "b": got["b"]})

    print()
    rows = report(results, better)
    if bad:
        print("not correct (lost pairs): " + ", ".join(f"{s.upper()} seed {k}" for s, k in bad))
    out = os.path.join(workdir, f"ab-{args.workload}.json")
    with open(out, "w") as f:
        json.dump({"a": args.rev_a, "b": args.rev_b, "workload": args.workload,
                   "trace": args.trace, "runs": results, "summary": rows}, f, indent=1)
    print(f"raw results: {out}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
