#!/usr/bin/env python3
"""Reduce interleaved A/B legs into per-query and per-metric medians,
spread, and a drift verdict.

Each input line is one leg, `{"sweep": n, "side": "A"|"B", "leg": …}`,
where A is the parent and B the change. Two kinds of leg body reduce:

- scripts/ab_interleaved.sh legs (`graft.Bench` / `LifecycleBench`
  lines with a "queries" or "ops" object of seconds). For every query
  and side: median + min/max over the sweeps. The noise bound is the
  per-side relative spread ((max-min)/median); a ratio B/A is flagged
  REAL only when the two sides' ranges do not overlap — the delta
  exceeds the measured noise, the r14 verdict's "no unexplained >1.25x
  delta on untouched queries" criterion made mechanical.
- perfbench result lines (`python3 perfbench/run.py …`'s last stdout
  line, with a "metrics" object). For every metric: each side's median
  and quartile distance (`statistics.quantiles(n=4)`, as
  perfbench/README.md measures spread), B/A, and B's wins over the
  pairs that share a sweep, in the metric's better direction from
  BENCHMARK.json (lower when it is not listed). Printed as a markdown
  table after the JSON.

usage: ab_aggregate.py <legs.jsonl> [out.json]
"""
import json
import statistics
import sys
from pathlib import Path


def quartile_distance(xs):
    if len(xs) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q3 - q1


def better_directions():
    bench = Path(__file__).resolve().parent.parent / "BENCHMARK.json"
    if not bench.exists():
        return {}
    spec = json.loads(bench.read_text())
    return {m["name"]: m["better"]
            for m in spec.get("end_to_end", []) + spec.get("per_layer", [])}


def metric_rows(legs):
    per = {}  # metric -> sweep -> side -> value
    for leg in legs:
        for m, v in (leg["leg"].get("metrics") or {}).items():
            # perfbench writes {"value": x, "unit": u}
            value = v["value"] if isinstance(v, dict) else v
            per.setdefault(m, {}).setdefault(leg["sweep"], {})[leg["side"]] = value
    better = better_directions()
    rows = {}
    for m, sweeps in sorted(per.items()):
        pairs = [(s["A"], s["B"]) for s in sweeps.values()
                 if "A" in s and "B" in s]
        if not pairs:
            continue
        a, b = [p[0] for p in pairs], [p[1] for p in pairs]
        lower = better.get(m, "lower") == "lower"
        ma, mb = statistics.median(a), statistics.median(b)
        rows[m] = {
            "better": "lower" if lower else "higher",
            "a_median": ma, "a_quartile_distance": quartile_distance(a),
            "b_median": mb, "b_quartile_distance": quartile_distance(b),
            "ratio_b_over_a": mb / ma if ma else None,
            "b_wins": sum((y < x) if lower else (y > x) for x, y in pairs),
            "pairs": len(pairs),
        }
    return rows


def metric_table(rows):
    lines = ["| metric | better | A median | A IQR | B median | B IQR "
             "| B/A | B wins |",
             "|---|---|---|---|---|---|---|---|"]
    for m, r in rows.items():
        ratio = r["ratio_b_over_a"]
        lines.append(
            f"| {m} | {r['better']} | {r['a_median']:.4g} "
            f"| {r['a_quartile_distance']:.4g} | {r['b_median']:.4g} "
            f"| {r['b_quartile_distance']:.4g} "
            f"| {'-' if ratio is None else f'{ratio:.3f}'} "
            f"| {r['b_wins']}/{r['pairs']} |")
    return "\n".join(lines)


def main() -> None:
    legs = [json.loads(l) for l in open(sys.argv[1]) if l.strip()]
    per = {}  # (query) -> side -> [times]
    for leg in legs:
        body = leg["leg"]
        qs = body.get("queries") or body.get("ops") or {}
        for q, t in qs.items():
            per.setdefault(q, {}).setdefault(leg["side"], []).append(t)
    rows = {}
    for q, sides in sorted(per.items()):
        a = sorted(sides.get("A", []))
        b = sorted(sides.get("B", []))
        if not a or not b:
            continue
        ma, mb = statistics.median(a), statistics.median(b)
        spread_a = (a[-1] - a[0]) / ma if ma else 0.0
        spread_b = (b[-1] - b[0]) / mb if mb else 0.0
        ratio = mb / ma if ma else float("inf")
        # non-overlapping ranges => the delta is outside measured noise
        real = (b[-1] < a[0]) or (b[0] > a[-1])
        rows[q] = {
            "a_median": round(ma, 3), "b_median": round(mb, 3),
            "ratio_b_over_a": round(ratio, 3),
            "a_runs": [round(x, 3) for x in a],
            "b_runs": [round(x, 3) for x in b],
            "spread_a": round(spread_a, 3), "spread_b": round(spread_b, 3),
            "outside_noise": real,
        }
    metrics = metric_rows(legs)
    out = {
        "metric": "ab_interleaved",
        "sweeps": max((l["sweep"] for l in legs), default=0),
        "queries": rows,
        "metrics": metrics,
    }
    dst = sys.argv[2] if len(sys.argv) > 2 else None
    text = json.dumps(out, indent=1)
    if dst:
        with open(dst, "w") as f:
            f.write(text + "\n")
    print(text)
    if metrics:
        print(metric_table(metrics))


if __name__ == "__main__":
    main()
