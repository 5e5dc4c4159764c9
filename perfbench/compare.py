#!/usr/bin/env python3
"""Compare two sets of benchmark result files, or traced with untraced runs.

    python3 perfbench/compare.py BASE CHANGE
    python3 perfbench/compare.py --overhead RESULTS

BASE and CHANGE are directories (or single files) of result files written by
run.py (.bench_build/results/ by default); run each side with the same
seeds and --seconds. For each workload and end-to-end metric the report
gives each side's median and quartiles, the share of seed-matched pairs the
change wins (ties count for neither side), and a verdict:

  improved      the change wins at least 9 of 10 pairs, at least ten pairs
                were run, and the medians differ by more than the distance
                between the base's quartiles;
  regressed     the change's median is worse than the base's by more than
                the metric's bound, and the base's own spread is within it;
  unresolved    the base's spread (quartile distance over median) is wider
                than the bound, unless every change run beats every base run;
  within bound  otherwise;
  failed        every metric of a workload on which the change fails a
                larger share of its operations (failed over attempted, a
                wrong output counts as failed) or of its runs than the base:
                a gain does not count when more operations fail.

Metrics are taken from runs whose outputs were all correct; each side's
run count, incorrect runs and failed/attempted totals are printed. The exit
code is 1 when any verdict is regressed or failed.

--overhead reports, per workload, how the end-to-end metrics of traced runs
(--trace 1) differ from untraced ones in one set of result files.
"""
import argparse
import json
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def load(path):
    files = [path] if path.is_file() else sorted(path.glob("*.json"))
    out = []
    for f in files:
        try:
            r = json.loads(f.read_text())
            if "provenance" in r and "end_to_end" in r:
                out.append(r)
        except (OSError, ValueError):
            pass
    return out


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def by_workload(records, trace):
    groups = {}
    for r in records:
        p = r["provenance"]
        if p["trace"] == trace:
            groups.setdefault(p["workload"], []).append(r)
    return groups


def failures(runs):
    """(incorrect runs, failed ops, attempted ops) of one side."""
    res = [r["result"] for r in runs]
    return (sum(not x["correct"] for x in res), sum(x["failed"] for x in res),
            sum(x["attempted"] for x in res))


def verdict(a, b, pairs, lower, bound):
    qa1, ma, qa3 = quartiles(a)
    mb = statistics.median(b)
    better = (lambda x, y: x < y) if lower else (lambda x, y: x > y)
    wins = sum(better(y, x) for x, y in pairs)
    share = wins / len(pairs) if pairs else float("nan")
    worse = ((mb - ma) if lower else (ma - mb)) / ma if ma else 0.0
    spread = (qa3 - qa1) / ma if ma else 0.0
    all_better = all(better(y, x) for x in a for y in b)
    if len(pairs) >= 10 and share >= 0.9 and better(mb, ma) and abs(mb - ma) > qa3 - qa1:
        v = "improved"
    elif spread > bound and not all_better:
        v = "unresolved"
    elif worse > bound:
        v = "regressed"
    else:
        v = "within bound"
    return share, worse, spread, v


def compare(base, change, spec):
    rows = []
    ga, gb = by_workload(base, 0), by_workload(change, 0)
    for wl in sorted(set(ga) | set(gb)):
        all_a, all_b = ga.get(wl, []), gb.get(wl, [])
        fail_a, fail_b = failures(all_a), failures(all_b)
        print(f"\n== {wl}: {len(all_a)} base runs ({fail_a[0]} incorrect, {fail_a[1]}/{fail_a[2]} ops failed), "
              f"{len(all_b)} change runs ({fail_b[0]} incorrect, {fail_b[1]}/{fail_b[2]} ops failed)")
        more_failed = (fail_b[1] / max(1, fail_b[2]) > fail_a[1] / max(1, fail_a[2]) or
                       fail_b[0] / max(1, len(all_b)) > fail_a[0] / max(1, len(all_a)))
        ra = [r for r in all_a if r["result"]["correct"]]
        rb = [r for r in all_b if r["result"]["correct"]]
        print(f"{'metric':18s} {'base q1/med/q3':>30s} {'change q1/med/q3':>30s} "
              f"{'wins':>6s} {'worse':>7s} {'spread':>7s}  verdict")
        seeds_b = {}
        for r in rb:
            seeds_b.setdefault(r["provenance"]["seed"], []).append(r)
        for m in spec["end_to_end"]:
            name, lower, bound = m["name"], m["better"] == "lower", m["bound"]
            ra_m = [r for r in ra if name in r["end_to_end"]]
            a = [r["end_to_end"][name] for r in ra_m]
            b = [r["end_to_end"][name] for r in rb if name in r["end_to_end"]]
            if more_failed:
                print(f"{name:18s} failed: the change fails more operations or runs than the base")
                rows.append((wl, name, "failed"))
                continue
            if not a or not b:
                print(f"{name:18s} missing on one side")
                continue
            pairs, used = [], {}
            for r in ra_m:
                s = r["provenance"]["seed"]
                mates = [x for x in seeds_b.get(s, []) if name in x["end_to_end"]]
                i = used.get(s, 0)
                if i < len(mates):
                    pairs.append((r["end_to_end"][name], mates[i]["end_to_end"][name]))
                    used[s] = i + 1
            share, worse, spread, v = verdict(a, b, pairs, lower, bound)
            fa = "/".join(f"{x:.4g}" for x in quartiles(a))
            fb = "/".join(f"{x:.4g}" for x in quartiles(b))
            print(f"{name:18s} {fa:>30s} {fb:>30s} {share:6.2f} {worse:+7.1%} {spread:7.1%}  "
                  f"{v} (bound {bound:.0%}, {len(pairs)} pairs)")
            rows.append((wl, name, v))
    return rows


def overhead(records, spec):
    ok = [r for r in records if r["result"]["correct"]]
    g0, g1 = by_workload(ok, 0), by_workload(ok, 1)
    for wl in sorted(set(g0) & set(g1)):
        print(f"\n== {wl}: {len(g0[wl])} untraced runs, {len(g1[wl])} traced runs")
        for m in spec["end_to_end"]:
            n = m["name"]
            xa = [r["end_to_end"][n] for r in g0[wl] if n in r["end_to_end"]]
            xb = [r["end_to_end"][n] for r in g1[wl] if n in r["end_to_end"]]
            if not xa or not xb:
                continue
            a, b = statistics.median(xa), statistics.median(xb)
            print(f"{n:18s} untraced {a:10.4g}  traced {b:10.4g}  "
                  f"difference {(b - a) / a if a else 0:+.1%}")
        ov = [r["layers"].get("trace.overhead_pct", 0.0) for r in g1[wl]]
        print(f"{'listener time':18s} {statistics.median(ov):.3f}% of traced op time (median)")


def main():
    ap = argparse.ArgumentParser(description="compare benchmark result sets")
    ap.add_argument("base", type=Path)
    ap.add_argument("change", type=Path, nargs="?")
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.overhead:
        overhead(load(args.base), spec)
        return 0
    if args.change is None:
        ap.error("CHANGE is required unless --overhead is given")
    rows = compare(load(args.base), load(args.change), spec)
    return 1 if any(v in ("regressed", "failed") for _, _, v in rows) else 0


if __name__ == "__main__":
    sys.exit(main())
