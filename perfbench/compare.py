#!/usr/bin/env python3
"""Compare two sets of benchmark results (parent vs change).

    python3 perfbench/compare.py <parent_dir> <change_dir>

Each directory holds result files saved by run.py (by default under
.bench_build/perfbench/results/); copy each side's files to its own
directory. For every workload and end-to-end metric it prints both sides'
medians and quartiles, how many run pairs the change won, and a verdict
by the rule in stats.verdict, using the bounds in BENCHMARK.json. Runs
are paired in the order they were made. Exact counts from traced runs
(Spark jobs, store files) are diffed separately: they should repeat
exactly, so any change in them is reported as a count, not a speed-up.
"""
import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

EXACT = ("spark.jobs", "spark.stages", "spark.tasks", "store.files",
         "weather.files_written", "dedup.pairs_out")


def load(d):
    """{(workload, trace): [result, ...]} in run order."""
    out = {}
    for f in glob.glob(os.path.join(d, "*.json")):
        r = json.load(open(f))
        out.setdefault((r["workload"], int(r["trace"])), []).append(r)
    for rs in out.values():
        rs.sort(key=lambda r: r["spawn_ms"])
    return out


def main(parent_dir, change_dir):
    spec = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    parent, change = load(parent_dir), load(change_dir)
    fmt = "{:<14} {:<13} {:>11} {:>23} {:>11} {:>23} {:>6}  {}"
    print(fmt.format("workload", "metric", "parent", "parent q1..q3", "change",
                     "change q1..q3", "wins", "verdict"))
    worst = "no worse"
    for wl in sorted({w for w, t in parent if t == 0} & {w for w, t in change if t == 0}):
        ps, cs = parent[(wl, 0)], change[(wl, 0)]
        n = min(len(ps), len(cs))
        for m in spec["end_to_end"]:
            name = m["name"]
            pv = [r["metrics"][name]["value"] for r in ps]
            cv = [r["metrics"][name]["value"] for r in cs]
            sign = 1 if m["better"] == "lower" else -1
            wins = sum(1 for p, c in zip(pv[:n], cv[:n]) if sign * (c - p) < 0)
            v = stats.verdict(pv[:n], cv[:n], m["better"], m["bound"])
            if v in ("worse", "unresolved") and worst != "worse":
                worst = v
            pq, cq = stats.quartiles(pv), stats.quartiles(cv)
            print(fmt.format(wl, name, f"{stats.median(pv):.4g}",
                             f"{pq[0]:.4g}..{pq[1]:.4g}", f"{stats.median(cv):.4g}",
                             f"{cq[0]:.4g}..{cq[1]:.4g}", f"{wins}/{n}", v))
    print()
    print("exact counts (traced runs, median per traced pass):")
    for wl in sorted({w for w, t in parent if t == 1} & {w for w, t in change if t == 1}):
        for name in EXACT:
            pv = [r["metrics"][name]["value"] for r in parent[(wl, 1)]]
            cv = [r["metrics"][name]["value"] for r in change[(wl, 1)]]
            pm, cm = stats.median(pv), stats.median(cv)
            if pm or cm:
                print(f"  {wl:<14} {name:<22} {pm:>10g} -> {cm:<10g} ({cm - pm:+g})")
    print()
    print(f"overall: {worst}")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
