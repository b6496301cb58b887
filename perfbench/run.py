"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Builds its inputs from ``--seed``, runs one
workload on ``local[nproc]``, checks the program's outputs, and prints one
JSON object as the last line of standard output::

    {"correct": true, "attempted": 14, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` they are its per-layer metrics, taken
from a separate traced session (spans around the calls into each layer,
plus the session's event log). Every temporary file lives under
``.perfbench_work/`` in the repository root and is removed at exit.
The run adopts the processes its children leave behind (the JVM's
launcher shells and Python workers) and waits until every one has ended
before it exits.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import sys

import analytics
import serve
import stream
from common import EventLog, adopt_orphans, end_children, start_spark, stop_spark

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = {
    "analytics_batch": analytics,
    "tsdb_serve": serve,
    "stream_ingest": stream,
}
#: a run that has not finished by then stops and exits non-zero; what is
#: left of the 180 s a run may take goes to ``end_children``
DEADLINE_S = 150

E2E_METRICS: dict[str, str] = {
    "setup_s": "s",
    "geomean_ms": "ms",
    "throughput_per_s": "1/s",
}
#: Spark counters over the jobs each workload measures (``EventLog``)
SPARK_METRICS: dict[str, str] = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "python.bytes_sent": "bytes",
    "python.bytes_returned": "bytes",
}
#: the traced session's end-to-end numbers, to set beside the untraced
#: ones: their difference is the tracing overhead
TRACED_METRICS = {f"traced.{k}": u for k, u in E2E_METRICS.items()}
LAYER_METRICS: dict[str, str] = {
    **SPARK_METRICS,
    **analytics.LAYER_METRICS,
    **serve.LAYER_METRICS,
    **stream.LAYER_METRICS,
    **TRACED_METRICS,
}


class Ctx:
    """What a workload receives: the session, its scratch directory, the
    run's arguments, and hooks for numbers read after the session stops."""

    def __init__(self, spark, work: str, seed: int, seconds: int, trace: bool):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.detail: dict = {}
        #: accepts the job groups whose Spark counters the workload reports
        self.measured = lambda group: True
        #: callbacks given the EventLog once the session has stopped
        self.after_stop: list = []


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _deadline(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "dariadb_spark")):
        print(f"no dariadb_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    work = os.path.join(
        ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}"
    )
    os.makedirs(work)
    trace = bool(args.trace)
    spark = None
    try:
        spark = start_spark(work, trace)
        ctx = Ctx(spark, work, args.seed, args.seconds, trace)
        out = WORKLOADS[args.workload].run(ctx)
        stop_spark(spark)
        spark = None
        if trace:
            log = EventLog(os.path.join(work, "eventlog"))
            layer = dict.fromkeys(LAYER_METRICS, 0.0)
            for name in SPARK_METRICS:
                layer[name] = log.total(name, ctx.measured)
            for hook in ctx.after_stop:
                hook(log)
            layer.update(out["layer"])
            for k, v in out["e2e"].items():
                layer[f"traced.{k}"] = v
            values, units = layer, LAYER_METRICS
        else:
            values, units = out["e2e"], E2E_METRICS
    finally:
        signal.alarm(0)
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's directory is still there
    if set(values) != set(units):
        raise RuntimeError(f"metrics {sorted(set(values) ^ set(units))} "
                           "emitted but not declared, or declared but missing")
    correct = out["failed"] == 0
    metrics = {}
    for name in units:
        v = float(values[name])
        if not math.isfinite(v):
            correct, v = False, 0.0
        metrics[name] = {"value": v, "unit": units[name]}
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "trace": args.trace, **ctx.detail},
                     default=str), file=sys.stderr)
    print(json.dumps({
        "correct": correct,
        "attempted": int(out["attempted"]),
        "failed": int(out["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    adopt_orphans()
    try:
        code = main()
    finally:
        end_children()
    sys.exit(code)
