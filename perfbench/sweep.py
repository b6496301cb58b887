"""Run the benchmark several times and record every result.

    python3 perfbench/sweep.py OUT.jsonl [--runs 10] [--seed0 1]
        [--workloads a,b] [--trace 0|1]

Runs ``run.py`` once per (workload, seed), one run at a time, from the
repository root, and appends one line per run to OUT.jsonl (the input of
``compare.py``). At the end it prints, per workload and end-to-end metric,
the median and the spread: the distance between the first and third
quartile as a share of the median (``statistics.quantiles(n=4)``).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("out")
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--seed0", type=int, default=1)
    p.add_argument("--workloads", default="")
    p.add_argument("--trace", type=int, default=0)
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = args.workloads.split(",") if args.workloads else [
        w["name"] for w in spec["workloads"]
    ]
    values: dict = {}
    ok = True
    with open(args.out, "a") as out:
        for w in workloads:
            for i in range(args.runs):
                seed = args.seed0 + i
                cmd = spec["command"] + [
                    "--workload", w, "--seed", str(seed),
                    "--seconds", str(spec["run_seconds"]),
                    "--trace", str(args.trace),
                ]
                t0 = time.perf_counter()
                proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
                wall = time.perf_counter() - t0
                lines = proc.stdout.strip().splitlines()
                if proc.returncode != 0 or not lines:
                    ok = False
                    print(f"{w} seed {seed}: exit {proc.returncode}\n"
                          f"{proc.stderr[-2000:]}", file=sys.stderr)
                    continue
                result = json.loads(lines[-1])
                detail = [ln for ln in proc.stderr.splitlines()
                          if ln.startswith('{"workload"')]
                ok &= result["correct"] and result["failed"] == 0
                out.write(json.dumps({"workload": w, "seed": seed,
                                      "trace": args.trace, "wall_s": wall,
                                      "result": result,
                                      "detail": json.loads(detail[-1]) if detail else None,
                                      }) + "\n")
                out.flush()
                for m, v in result["metrics"].items():
                    values.setdefault(w, {}).setdefault(m, []).append(v["value"])
                print(f"{w} seed {seed}: {wall:.1f} s, correct={result['correct']}",
                      file=sys.stderr)
    for w, ms in values.items():
        for m, vs in ms.items():
            if len(vs) < 2:
                continue
            q1, q2, q3 = statistics.quantiles(vs, n=4)
            spread = f"{(q3 - q1) / q2:7.1%}" if q2 else "      -"
            print(f"{w:16s} {m:28s} median {q2:12.4f}  spread {spread}"
                  f"  n={len(vs)}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
