"""Workload ``analytics_batch``: one materialized pass over registered
queries on freshly generated tables.

An untimed pass comes first: each query's result is collected and compared
with the query's DuckDB oracle over the same files (the correctness gate),
which also warms the JVM and the Python workers on the same plans. The
timed pass then runs over a byte-identical copy of the tables at another
path, so nothing the program keys on the input path (such as the dedup
label memo) carries over from the gate. In the timed pass each query is
built (``REGISTRY[name].fn``: the driver-side plan build plus any eager pin
jobs) and materialized with ``df.write.format("noop")``, so every column of
every row is computed and nothing is sent to the driver.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from statistics import geometric_mean as geomean
from statistics import median

import gen
import oracle
from common import EventLog

#: the timed queries and the layer each one belongs to
QUERIES: dict[str, str] = {
    "interval_scan": "operators",
    "ext_interpolate": "ext.timeseries",
    "ext_part_kcore": "ext.relational",
    "ext_text_tfidf": "ext.text",
    "ext_sim_ann_pq": "ext.similarity",
    "ext_dedup_components": "ext.dedup",
    "ext_curate_corpus": "ext.dedup",
}
FAMILIES = (
    "ext.relational", "ext.dedup", "ext.text", "ext.similarity",
    "ext.timeseries", "operators",
)
SF = 0.02
SETUP_REPEATS = 3
#: a noop/count time ratio above this is listed by the count audit
AUDIT_RATIO = 1.5

LAYER_METRICS: dict[str, str] = {
    "registry.build_s": "s",
    "spark.exec_s": "s",
    "pins.rdds_end": "count",
    "pins.bytes_end": "bytes",
    "pins.rdds_max_before": "count",
    "pins.bytes_max_before": "bytes",
    "drag.components_then_curate_s": "s",
    "drag.curate_then_components_s": "s",
    "audit.count_pass_s": "s",
    "audit.noop_count_ratio": "ratio",
    **{f"{fam}_s": "s" for fam in FAMILIES},
    **{f"q.{q}_s": "s" for q in QUERIES},
}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run(ctx) -> dict:
    from dariadb_spark.registry import REGISTRY

    spark, sc = ctx.spark, ctx.spark.sparkContext
    setup = []
    gated = ""
    for k in range(SETUP_REPEATS):
        if gated:
            shutil.rmtree(gated)
        gated = os.path.join(ctx.work, f"tables{k}")
        t0 = time.perf_counter()
        gen.write_tables(gated, SF, ctx.seed)
        setup.append(time.perf_counter() - t0)
    data = os.path.join(ctx.work, "timed")
    shutil.copytree(gated, data)

    problems = {}
    t0 = time.perf_counter()
    con = oracle.connect(gated)
    for name in QUERIES:
        sc.setJobGroup("gate", "warm-up and correctness gate")
        try:
            got = REGISTRY[name].fn(spark, gated).toPandas()
        except Exception as ex:  # a failing query is a failed operation
            problems[name] = f"{type(ex).__name__}: {ex}"
            continue
        bad = oracle.mismatch(got, con.execute(REGISTRY[name].oracle).fetchdf())
        if bad:
            problems[name] = bad
    con.close()
    ctx.detail["gate_s"] = time.perf_counter() - t0

    build, execs, totals = {}, {}, {}
    for name in QUERIES:
        sc.setJobGroup(name, name)
        try:
            t0 = time.perf_counter()
            df = REGISTRY[name].fn(spark, data)
            t1 = time.perf_counter()
            _noop(df)
            t2 = time.perf_counter()
        except Exception as ex:
            problems.setdefault(name, f"{type(ex).__name__}: {ex}")
            continue
        build[name], execs[name], totals[name] = t1 - t0, t2 - t1, t2 - t0
    failed = len(problems)
    if problems:
        print(f"analytics_batch failures: {problems}", file=sys.stderr)

    times = list(totals.values()) or [float("nan")]
    pass_s = sum(times)
    e2e = {
        "setup_s": median(setup),
        "geomean_ms": geomean(times) * 1e3,
        "throughput_per_s": len(times) / pass_s,
    }
    ctx.detail.update(pass_s=pass_s, query_s=totals, problems=problems)
    out = {"e2e": e2e, "attempted": len(QUERIES), "failed": failed}
    if ctx.trace:
        out["layer"] = _traced(ctx, REGISTRY, data, build, execs, totals)
    return out


def _traced(ctx, REGISTRY, data, build, execs, totals) -> dict:
    """Session-drag probe and count-vs-noop audit; the event-log counters
    are read by the caller once the session has stopped."""
    spark, sc = ctx.spark, ctx.spark.sparkContext
    sc.setJobGroup("pass-end", "marker")
    spark.range(1).count()

    counts = {}
    audited = os.path.join(ctx.work, "audit")
    shutil.copytree(data, audited)  # a new path, as the timed pass had
    for name in QUERIES:
        sc.setJobGroup("audit", "count audit")
        t0 = time.perf_counter()
        REGISTRY[name].fn(spark, audited).count()
        counts[name] = time.perf_counter() - t0
    audit = {
        n: totals[n] / counts[n] for n in totals if counts.get(n)
    }

    drag = {}
    for order in (
        ("ext_dedup_components", "ext_curate_corpus"),
        ("ext_curate_corpus", "ext_dedup_components"),
    ):
        fresh = os.path.join(ctx.work, "drag-" + order[0])
        shutil.copytree(data, fresh)  # a new path: no carried-over labels
        sc.setJobGroup("drag", "session-drag probe")
        t0 = time.perf_counter()
        for name in order:
            _noop(REGISTRY[name].fn(spark, fresh))
        drag[order] = time.perf_counter() - t0

    layer = {
        "registry.build_s": sum(build.values()),
        "spark.exec_s": sum(execs.values()),
        "drag.components_then_curate_s": drag[
            ("ext_dedup_components", "ext_curate_corpus")
        ],
        "drag.curate_then_components_s": drag[
            ("ext_curate_corpus", "ext_dedup_components")
        ],
        "audit.count_pass_s": sum(counts.values()),
        "audit.noop_count_ratio": sum(totals.values()) / sum(counts.values()),
    }
    for fam in FAMILIES:
        layer[f"{fam}_s"] = sum(
            t for q, t in totals.items() if QUERIES[q] == fam
        )
    for q in QUERIES:
        layer[f"q.{q}_s"] = totals.get(q, 0.0)
    ctx.detail["audit_noop_over_count"] = audit
    ctx.detail["audit_over_threshold"] = sorted(
        n for n, r in audit.items() if r > AUDIT_RATIO
    )
    ctx.measured = lambda group: group in QUERIES
    ctx.after_stop.append(
        lambda log: ctx.detail.update(storage_before=_from_log(log, layer))
    )
    return layer


def _from_log(log: EventLog, layer: dict) -> dict:
    """Fill the retained-storage metrics from the event log; returns the
    storage (persistent RDDs, cached bytes) held before each query."""
    layer["pins.rdds_end"], layer["pins.bytes_end"] = log.storage_before.get(
        "pass-end", (0, 0)
    )
    before = [log.storage_before.get(q, (0, 0)) for q in QUERIES]
    layer["pins.rdds_max_before"] = max(r for r, _ in before)
    layer["pins.bytes_max_before"] = max(b for _, b in before)
    return {q: list(log.storage_before.get(q, (0, 0))) for q in QUERIES}
