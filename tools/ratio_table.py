#!/usr/bin/env python3
"""Join the Spark bench sidecar (target/bench_full.json, per-query
seconds at SPARK_GRAFT_SF_DIR) against the DuckDB oracle timing sidecar
(<verifyOutDir>/oracle_times.json from tools/verify_local.py run over
the SAME sf) into the per-query ratio table the throughput contract
("match-or-beat single-node, nothing >2x out of family line") needs —
previously the contract was only checkable in aggregate.

Ratios are only meaningful where the oracle does substantive work:
Spark's fixed per-stage floor in local mode (~0.1-0.3 s of scheduler +
codegen + stage launch per query, plus real streaming-checkpoint
machinery on stream_*) dwarfs a 3 ms DuckDB CTE without saying anything
about 100 TB behavior, so the flag list is restricted to queries whose
oracle side itself runs >= MIN_ORACLE_S. Dev tooling only; the shipped
library has no Python dependency.

Usage: python3 tools/ratio_table.py <benchFullJson> <oracleTimesJson> [outMd]
"""
import json
import os
import sys

MIN_ORACLE_S = 0.25

# Local-mode floor arithmetic: fixed stage-launch latency per stage
# plus ~0.3 s of scan + driver overhead, with the stage count each query
# ran in the bench's timed loop (its sidecar `metrics`). Fitted on the
# audited floor row text_rake_keywords (4 stages measured at sf0.01
# and sf0.1, 0.60 s steady state = 0.30 + 4 x 0.075; the same row read
# 3 exchanges x 0.10 s under the exchange-count floor this replaced).
# A flagged row within FLOOR_TOLERANCE of its implied floor is
# classified floor-bound, with the arithmetic shown in its row.
FLOOR_BASE_S = 0.30
FLOOR_PER_STAGE_S = 0.075
FLOOR_TOLERANCE = 1.5


def cpu_note(record):
    """The record's executor CPU share (task CPU over task run time in
    the timed loop); a share well below its idle-box value means the
    task threads waited for cores."""
    share = record.get("cpu_share")
    return ("no CPU share recorded" if share is None
            else f"executor CPU share {share:.2f}")


def carried_notes(out_md):
    """Blockquote notes (measured-state ranges, A/B records) from the
    existing file's HEADER region — human-written context a
    regeneration must not drop (round 14 lost both notes to a bare
    rerun and had to restore them by hand). Only blocks ABOVE the
    generated '**Aggregate:' line carry: they live in the notes region
    this function re-emits in place, so carrying is idempotent. A
    blockquote below the tables would be hoisted out of its context —
    refuse it loudly instead of silently relocating it.
    """
    if not os.path.exists(out_md):
        return []
    blocks, cur, in_header = [], [], True
    with open(out_md) as f:
        for line in f:
            if line.startswith("**Aggregate:"):
                in_header = False
            if line.startswith(">"):
                if not in_header:
                    raise SystemExit(
                        f"{out_md} has a blockquote below the generated "
                        "tables; regeneration would hoist it out of "
                        "context — move it above the Aggregate line or "
                        "fold it into the table prose first")
                cur.append(line.rstrip("\n"))
            elif cur:
                blocks.append(cur)
                cur = []
    if cur:
        blocks.append(cur)
    out = []
    for b in blocks:
        out.extend(b)
        out.append("")
    return out


def latest_driver_record(root):
    """(round, parsed bench line) of the newest BENCH_r{N}.json next to
    the output file. The driver's closing rep runs AFTER the builder's
    last commit, so without this the official record can sit outside
    the committed band unexplained (the round-14 lesson) — the table
    now always restates the latest driver rep against the current run.
    """
    import glob
    import re
    best = None
    for p in glob.glob(os.path.join(root or ".", "BENCH_r*.json")):
        m = re.search(r"BENCH_r0*(\d+)\.json$", p)
        if m and (best is None or int(m.group(1)) > best[0]):
            best = (int(m.group(1)), p)
    if best is None:
        return None
    try:
        with open(best[1]) as f:
            parsed = json.load(f).get("parsed") or {}
        return (best[0], parsed) if "value" in parsed else None
    except (OSError, ValueError):
        return None


def median(xs):
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def merge_medians(benches):
    """Fold several full-run sidecars into one synthetic bench record of
    per-query MEDIANS (directive r16→r17 #3): one unlucky draw in one
    run no longer sets flag membership — the committed table becomes a
    property of the round's runs, not of whichever single run was
    picked. Every input must cover the same query set (full runs only;
    a subset run would silently median over different populations) —
    the caller picks the runs, this records how many went in.
    """
    names = set(benches[0].get("queries", {}))
    for b in benches[1:]:
        if set(b.get("queries", {})) != names:
            raise SystemExit("median inputs cover different query sets — "
                             "pass full-run sidecars only")
    # Same-sf check (r18, per ADVICE): medianing runs from different
    # scale dirs would silently produce nonsense — fail like the
    # query-set check does.
    sfs = {b.get("sf", "?") for b in benches}
    if len(sfs) != 1:
        raise SystemExit(f"median inputs report different sf dirs {sorted(sfs)}"
                         " — pass sidecars from one scale only")
    queries = {n: round(median([b["queries"][n] for b in benches]), 3)
               for n in names}
    merged = {
        # The headline equals the SUM of the per-query medians the table
        # prints (r18, per ADVICE) — a median of run totals is a number
        # no row in the table adds up to, and the driver-record ratio
        # divides by this value.
        "value": round(sum(queries.values()), 3),
        "staging_sec": round(median([b.get("staging_sec", 0)
                                     for b in benches]), 3),
        "queries": queries,
        "sf": benches[0].get("sf", "?"),
        "n_runs": len(benches),
    }
    shares = [b["cpu_share"] for b in benches if "cpu_share" in b]
    if shares:
        merged["cpu_share"] = round(median(shares), 3)
    # Per-query stage counts: the median over the runs that measured it.
    metrics = [b["metrics"] for b in benches if b.get("metrics")]
    if metrics:
        merged["metrics"] = {
            n: {"stages": median([m[n]["stages"] for m in metrics if n in m])}
            for n in {k for m in metrics for k in m}}
    # Flavor counts: worst (max) per tag.
    flav = [b.get("staged_flavors") for b in benches
            if b.get("staged_flavors")]
    if flav:
        merged["staged_flavors"] = {
            t: max(f.get(t, 0) for f in flav)
            for t in {k for f in flav for k in f}}
    return merged


def main():
    bench_path, oracle_path = sys.argv[1], sys.argv[2]
    out_md = sys.argv[3] if len(sys.argv) > 3 else "BENCH_RATIO.md"
    # A comma-separated bench list medians the runs (see merge_medians).
    paths = [p for p in bench_path.split(",") if p]
    loaded = []
    for p in paths:
        with open(p) as f:
            loaded.append(json.load(f))
    bench = loaded[0] if len(loaded) == 1 else merge_medians(loaded)
    with open(oracle_path) as f:
        oracle = json.load(f)
    spark = bench.get("queries", bench)
    notes = carried_notes(out_md)
    driver = latest_driver_record(os.path.dirname(os.path.abspath(out_md)))

    rows = [(n, s, oracle[n], s / max(oracle[n], 1e-3))
            for n, s in spark.items() if n in oracle]
    rows.sort(key=lambda r: -r[2])

    s_tot = sum(r[1] for r in rows)
    d_tot = sum(r[2] for r in rows)
    substantive = [r for r in rows if r[2] >= MIN_ORACLE_S]
    over2x = [r for r in substantive if r[3] > 2.0]
    # Floor split: a >2x row whose Spark median sits within
    # FLOOR_TOLERANCE of its implied stage floor is labeled
    # "floor-bound" (measurement resolution, not a plan defect) instead
    # of silently suppressed; rows without measured stages (sidecars
    # from before the metrics) stay plain-flagged.
    stages = {n: m["stages"] for n, m in (bench.get("metrics") or {}).items()}
    def implied_floor(name):
        e = stages.get(name)
        return None if e is None else FLOOR_BASE_S + FLOOR_PER_STAGE_S * e
    def is_floor_bound(r):
        fl = implied_floor(r[0])
        return fl is not None and r[1] <= FLOOR_TOLERANCE * fl
    floor_bound = [r for r in over2x if is_floor_bound(r)]
    flagged = [r for r in over2x if not is_floor_bound(r)]
    multi_flavor = sorted(t for t, n in
                          (bench.get("staged_flavors") or {}).items()
                          if n > 1)
    spark_only = sorted(set(spark) - set(oracle))

    lines = [
        "# Spark vs DuckDB oracle — per-query wall seconds",
        "",
        f"Spark side: `{bench_path}` (sf: `{bench.get('sf', '?')}`); "
        f"oracle side: `{oracle_path}` (committed idle-box snapshot, so "
        f"`python3 tools/ratio_table.py target/bench_full.json "
        f"{oracle_path}` reproduces this table from the repo plus one "
        f"bench run).",
        "",
    ] + notes + [
        f"**Aggregate: Spark {s_tot:.1f} s vs DuckDB {d_tot:.1f} s over "
        f"{len(rows)} shared queries ({s_tot / max(d_tot, 1e-3):.1f}x).** "
        f"{len(substantive)} queries have a substantive oracle "
        f"(>= {MIN_ORACLE_S} s); **{len(over2x)} of those exceed 2x "
        f"({len(flagged)} flagged, {len(floor_bound)} floor-bound)**. "
        f"{len(spark_only)} queries have no SQL oracle (rows-only gate).",
        "",
        # The one-line measured-state summary. SURVEY.md §6 quotes this
        # line VERBATIM instead of restating the numbers, so the survey
        # and this table cannot drift (the round-15 drift was exactly a
        # hand-restated copy going stale after a regeneration).
        f"Measured state: committed table = "
        + (f"per-query MEDIANS over {bench['n_runs']} runs (summed total "
           if bench.get("n_runs") else "the ")
        + f"{bench.get('value', s_tot):.1f} s"
        + (")" if bench.get("n_runs") else " run")
        + f" ({cpu_note(bench)}, "
        f"staging {bench.get('staging_sec', 0):.1f} s) with "
        f"{len(flagged)} substantive >2x flags and "
        f"{len(floor_bound)} floor-bound rows"
        + (f"; MULTI-FLAVOR staged tags: {', '.join(multi_flavor)}"
           if multi_flavor else "")
        + ".",
        "",
    ] + ([
        f"Latest driver record (`BENCH_r{driver[0]}.json`): "
        f"{driver[1]['value']:.1f} s total over {driver[1].get('nq', '?')} "
        f"queries (staging {driver[1].get('staging_sec', 0):.1f} s, cache "
        f"{(driver[1].get('staging_cache') or {}).get('hits', '?')}/"
        f"{(driver[1].get('staging_cache') or {}).get('misses', '?')}) — "
        # Compare full total against full total: s_tot covers only the
        # oracle-shared queries, so it would overstate the factor
        # whenever any query lacks an SQL oracle (subset bias).
        f"{driver[1]['value'] / max(bench.get('value', s_tot), 1e-3):.2f}x "
        f"this table's run ({cpu_note(driver[1])}).",
        "",
    ] if driver else []) + [
        "Sub-second oracle rows are dominated by Spark's fixed local-mode "
        "stage floor (and, on stream_*, real checkpoint machinery) — "
        "they say nothing about scale behavior and are excluded from the "
        "flag count.",
        "",
        "## Flagged (substantive oracle, Spark > 2x)",
        "",
        "| query | spark s | duckdb s | ratio |",
        "|---|---|---|---|",
    ] + [f"| {n} | {s:.2f} | {d:.3f} | {r:.1f} |" for n, s, d, r in flagged] + [
        "",
        f"## Floor-bound (> 2x but within {FLOOR_TOLERANCE}x of the "
        "implied local stage floor)",
        "",
        f"Floor = {FLOOR_BASE_S} s scan/driver overhead + "
        f"{FLOOR_PER_STAGE_S} s per stage (stage launch); stage counts "
        "are measured per query by `graft.Bench`. These rows are "
        "measurement resolution, not plan defects — each plan was "
        "audited scale-right and has no stage left to remove without "
        "hollowing the query into a staged read-back.",
        "",
        "| query | spark s | duckdb s | ratio | stages | floor s |",
        "|---|---|---|---|---|---|",
    ] + [f"| {n} | {s:.2f} | {d:.3f} | {r:.1f} | {stages.get(n)} | "
         f"{implied_floor(n):.2f} |" for n, s, d, r in floor_bound] + [
        "",
        "## Largest oracles (top 40 by DuckDB seconds)",
        "",
        "| query | spark s | duckdb s | ratio |",
        "|---|---|---|---|",
    ]
    for n, s, d, r in rows[:40]:
        lines.append(f"| {n} | {s:.2f} | {d:.3f} | {r:.1f} |")
    rest = rows[40:]
    if rest:
        s_sum = sum(r[1] for r in rest)
        d_sum = sum(r[2] for r in rest)
        lines.append(f"| …{len(rest)} more | {s_sum:.2f} | {d_sum:.3f} | "
                     f"{s_sum / max(d_sum, 1e-3):.1f} |")
    with open(out_md, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out_md}: {len(rows)} queries, "
          f"{len(flagged)} flagged of {len(substantive)} substantive")


if __name__ == "__main__":
    main()
