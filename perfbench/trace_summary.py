#!/usr/bin/env python3
"""Summarise the spans of a traced benchmark run.

    python3 perfbench/trace_summary.py <result.json>

The result file is one run.py saved with `--trace 1`. For every span name
(a call into a layer made by the benchmark) it prints the count and the
inclusive and self time per traced pass, next to the end-to-end metric
that layer should move. Self time is the span's duration minus the part
its child spans cover. Set-up spans (no op) are shown per run. The
tracing overhead is the traced passes' median wall minus the untraced
passes' median wall.
"""
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

# layer prefix -> (end-to-end metric it should move, workload)
MOVES = [
    ("session.", "setup_s", "both workloads"),
    ("source.", "setup_s", "weather_etl"),
    ("bpe.build", "setup_s", "catalog"),
    ("queries.", "wall_s, cpu_s", "catalog"),
    ("retrieval.", "wall_s", "catalog"),
    ("dedup.", "wall_s", "catalog"),
    ("bpe.", "wall_s", "catalog"),
    ("ann.", "wall_s", "catalog"),
    ("manifest.", "wall_s", "catalog"),
    ("stream.", "wall_s", "catalog"),
    ("weather.", "wall_s, first_pass_s", "weather_etl"),
    ("ml.", "wall_s, cpu_s", "weather_etl"),
]


def moves(name):
    for prefix, metric, wl in MOVES:
        if name.startswith(prefix):
            return f"{metric} on {wl}"
    return ""


def summarise(result):
    passes = [p for p in result["passes"] if p["pass"] >= 0]
    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes if not p["traced"]]
    n = max(1, len(traced))
    spans = result["spans"]
    self_t = stats.self_times(spans)
    rows = {}
    for s in spans:
        key = (s["name"], bool(s["op"]))
        r = rows.setdefault(key, [0, 0.0, 0.0])
        r[0] += 1
        r[1] += s["end_s"] - s["start_s"]
        r[2] += self_t[s["id"]]
    lines = [f"workload {result['workload']}, seed {result['seed']}, "
             f"{len(traced)} traced and {len(plain)} untraced steady passes",
             f"{'span':<20} {'count':>7} {'incl_s':>9} {'self_s':>9}  moves"]
    for (name, in_pass), (c, incl, own) in sorted(rows.items(), key=lambda kv: -kv[1][2]):
        d = n if in_pass else 1
        label = name if in_pass else f"{name} (setup)"
        lines.append(f"{label:<20} {c / d:>7g} {incl / d:>9.3f} {own / d:>9.3f}  {moves(name)}")
    if traced and plain:
        over = (stats.median([p["wall_s"] for p in traced])
                - stats.median([p["wall_s"] for p in plain]))
        lines.append(f"trace.overhead_s = {over:.3f} (traced minus untraced pass wall)")
    return "\n".join(lines)


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    print(summarise(json.load(open(sys.argv[1]))))
