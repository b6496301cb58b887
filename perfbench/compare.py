"""Compare two sets of benchmark results.

    python3 perfbench/compare.py BASE.jsonl NEW.jsonl

Each file holds one JSON object per line: ``{"workload": ..., "seed": ...,
"trace": 0|1, "result": <the last stdout line of run.py>}`` (what
``perfbench/sweep.py`` writes). For every workload and metric it prints
each side's median and quartiles, the change of the medians, and, for
untraced metrics, the paired win fraction: runs are paired by seed, and a
pair is a win when the new side is better by the metric's direction in
BENCHMARK.json (ties count for neither side). Per-layer metrics from the
traced runs are listed as median deltas, so a change to one layer can be
traced to where its time went.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path: str) -> dict:
    """{(workload, trace): {seed: {metric: value}}}"""
    out: dict = {}
    with open(path) as fh:
        for line in fh:
            if not line.strip():
                continue
            rec = json.loads(line)
            metrics = {k: v["value"] for k, v in rec["result"]["metrics"].items()}
            out.setdefault((rec["workload"], rec["trace"]), {})[rec["seed"]] = metrics
    return out


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def directions() -> dict[str, str]:
    path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    with open(path) as fh:
        spec = json.load(fh)
    return {m["name"]: m["better"] for m in spec["end_to_end"]}


def compare(base: dict, new: dict, better: dict[str, str]) -> list[str]:
    lines = []
    for key in sorted(set(base) | set(new)):
        workload, trace = key
        b, n = base.get(key, {}), new.get(key, {})
        names = sorted({m for runs in (b, n) for r in runs.values() for m in r})
        lines.append(f"== {workload} ({'traced' if trace else 'end-to-end'}; "
                     f"{len(b)} base runs, {len(n)} new runs)")
        for m in names:
            bv = [r[m] for r in b.values() if m in r]
            nv = [r[m] for r in n.values() if m in r]
            if not bv or not nv or not any(bv + nv):
                continue  # a layer this workload does not load
            bq, nq = quartiles(bv), quartiles(nv)
            delta = (nq[1] - bq[1]) / bq[1] if bq[1] else float("nan")
            row = (f"  {m:36s} base {bq[1]:12.4g} [{bq[0]:.4g}, {bq[2]:.4g}]"
                   f"  new {nq[1]:12.4g} [{nq[0]:.4g}, {nq[2]:.4g}]"
                   f"  {delta:+.1%}")
            if not trace and m in better:
                pairs = [(b[s][m], n[s][m]) for s in b if s in n and m in b[s] and m in n[s]]
                sign = -1 if better[m] == "lower" else 1
                wins = sum(sign * (y - x) > 0 for x, y in pairs)
                spread = (bq[2] - bq[0]) / bq[1] if bq[1] else float("nan")
                row += f"  wins {wins}/{len(pairs)}  base IQR {spread:.1%}"
            lines.append(row)
    return lines


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    print("\n".join(compare(load(argv[0]), load(argv[1]), directions())))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
