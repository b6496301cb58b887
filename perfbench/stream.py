"""Workload ``stream_ingest``: Structured Streaming folds draining a
landed backlog.

Set-up generates a ``Meas`` backlog and lands it in a parquet-backed
``TsEngine`` through ``TsEngine.append``, one strictly time-increasing
slice (one file) at a time, so the folds' in-order contract holds. Each
fold then drains the whole backlog as an ``availableNow`` query reading
one file per micro-batch (``streaming_stat_blocks`` takes no such option
and drains it in one batch). Batch timings come from each query's own
progress reports (``durationMs``), which Spark records with or without
tracing.

After each drain, and outside its timing, the fold's final sink is
compared with the same operator's batch form over the landed data; a
mismatch counts as a failed operation.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import sys
import time
from statistics import geometric_mean as geomean
from statistics import median

import numpy as np
import pandas as pd

import gen
import oracle

N_SERIES = 24
START_MS = 1_704_067_200_000  # 2024-01-01 00:00 UTC
SPAN_MS = 12 * 3_600_000  # inside one UTC day: one file per appended slice
STEP_MS = 30_000
SLICES = 3
HOUR_MS = 3_600_000
END_MS = START_MS + SPAN_MS
SPLIT_MS = START_MS + SPAN_MS // 2
SETUP_REPEATS = 3
DRAIN_TIMEOUT_S = 60
FOLDS = ("stat_blocks", "ewma", "counter_rate", "hdr_cells", "subscribe")

LAYER_METRICS: dict[str, str] = {
    "stream.batches": "count",
    "stream.add_batch_ms": "ms",
    "stream.query_planning_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms",
    "stream.latest_offset_ms": "ms",
    "stream.start_s": "s",
    "state.rows_total": "count",
    "state.memory_bytes": "bytes",
    "state.commit_ms": "ms",
    "sources.land_s": "s",
    **{f"fold.{f}_s": "s" for f in FOLDS},
}


def backlog(seed: int) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 7])
    return gen.meas_frame(rng, N_SERIES, START_MS, END_MS, STEP_MS)


def _land(spark, eng, rows: pd.DataFrame) -> None:
    edges = np.linspace(START_MS, END_MS, SLICES + 1).astype(np.int64)
    for lo, hi in zip(edges[:-1], edges[1:]):
        part = rows[(rows.time >= lo) & (rows.time < hi)]
        eng.append(spark.createDataFrame(part).coalesce(1))


def _field(p, key):
    return p[key] if isinstance(p, dict) else getattr(p, key)


def _start(spark, eng, fold: str, qname: str, sink: dict):
    from dariadb_spark.streaming import levelshift, rate, runlen, sketch
    from dariadb_spark.streaming.ewma import streaming_ewma_log

    d = str(eng.store.data_dir)
    if fold == "stat_blocks":
        return eng.streaming_stat_blocks("hour", query_name=qname)
    if fold == "ewma":
        return streaming_ewma_log(spark, d, qname, max_files_per_trigger=1)
    if fold == "counter_rate":
        return rate.streaming_counter_rate_log(spark, d, qname, max_files_per_trigger=1)
    if fold == "run_lengths":
        return runlen.streaming_run_lengths_log(spark, d, qname, max_files_per_trigger=1)
    if fold == "level_shift":
        return levelshift.streaming_level_shift_log(
            spark, d, SPLIT_MS, qname, max_files_per_trigger=1
        )
    if fold == "hdr_cells":
        return sketch.streaming_hdr_cells(spark, d, qname, max_files_per_trigger=1)

    def callback(batch_df, batch_id):
        r = batch_df.agg({"value": "sum", "id": "count"}).collect()[0]
        sink["rows"] = sink.get("rows", 0) + r["count(id)"]
        sink["sum"] = sink.get("sum", 0.0) + (r["sum(value)"] or 0.0)

    return eng.subscribe(None, 0, callback, available_now=True)


def _hdr_cells(rows: pd.DataFrame) -> pd.DataFrame:
    """The batch HDR cell table (ext/sketches.py layout, 4 sub-bucket bits)."""
    pos = rows[rows.value > 0]
    x = np.round(pos.value.to_numpy() * 100).astype(np.int64)
    bits = np.array([int(v).bit_length() for v in x])
    shifted = np.right_shift(x, np.maximum(bits - 5, 0))
    bucket = np.where(x < 16, x, (bits - 4) * 16 + (shifted & 15))
    cells = pd.DataFrame({"flag": pos.flag.to_numpy(), "bucket": bucket})
    return cells.groupby(["flag", "bucket"]).size().rename("cnt").reset_index()


def _gate(spark, eng, fold, qname, sink, rows) -> str | None:
    """None when the fold's final sink equals its batch form."""
    from dariadb_spark.ext.timeseries import series_level_shift_op, series_run_lengths_op
    from dariadb_spark.ext.timeseries import RUN_THRESHOLD
    from dariadb_spark.streaming import levelshift, rate, runlen
    from dariadb_spark.streaming.ewma import ewma_from_log

    lo, hi = START_MS, END_MS
    if fold == "subscribe":
        ok = sink.get("rows") == len(rows) and np.isclose(sink["sum"], rows.value.sum())
        return None if ok else f"subscribe saw {sink.get('rows')} of {len(rows)} rows"
    log = spark.table(qname)
    if fold == "stat_blocks":
        got = log.toPandas()
        b = rows.assign(bucket_ms=rows.time - rows.time % HOUR_MS)
        want = b.groupby(["id", "bucket_ms"]).value.agg(
            cnt="count", min_value="min", max_value="max", sum_value="sum"
        ).reset_index()
        m = got.merge(want, on=["id", "bucket_ms"], suffixes=("", "_b"))
        ok = len(m) == len(want) == len(got) and all(
            (m[c] == m[c + "_b"]).all() for c in ("cnt", "min_value", "max_value")
        ) and np.allclose(m.sum_value, m.sum_value_b, rtol=1e-12)
        return None if ok else "stat blocks differ from the batch aggregate"
    if fold == "hdr_cells":
        got = log.selectExpr("flag", "bucket", "count AS cnt").toPandas()
        return oracle.mismatch(got, _hdr_cells(rows))
    batch = {
        "ewma": (lambda: eng.ewma(None, lo, hi), ewma_from_log),
        "counter_rate": (lambda: eng.counter_rate(None, lo, hi),
                         rate.counter_rate_from_log),
        "run_lengths": (
            lambda: series_run_lengths_op(eng.meas(), None, lo, hi, RUN_THRESHOLD),
            runlen.run_lengths_from_log,
        ),
        "level_shift": (
            lambda: series_level_shift_op(eng.meas(), None, lo, hi, SPLIT_MS),
            levelshift.level_shift_from_log,
        ),
    }[fold]
    return oracle.mismatch(batch[1](log).toPandas(), batch[0]().toPandas())


def run(ctx) -> dict:
    from dariadb_spark.engine import TsEngine

    spark = ctx.spark
    rows = backlog(ctx.seed)
    setup = []
    store = ""
    spark.sparkContext.setJobGroup("setup", "landing")
    for k in range(SETUP_REPEATS):
        if store:
            shutil.rmtree(store)
        store = os.path.join(ctx.work, f"store{k}")
        t0 = time.perf_counter()
        eng = TsEngine.open(spark, store)
        _land(spark, eng, rows)
        setup.append(time.perf_counter() - t0)

    failed, problems = 0, {}
    progress, fold_s, start_s, folded = {}, {}, [], 0
    for fold in FOLDS:
        qname = f"perfbench_{fold}"
        sink: dict = {}
        t0, wall0 = time.perf_counter(), time.time()
        try:
            q = _start(spark, eng, fold, qname, sink)
            done = q.awaitTermination(DRAIN_TIMEOUT_S)
            if not done:
                q.stop()
                raise TimeoutError(f"drain did not finish in {DRAIN_TIMEOUT_S} s")
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
        except Exception as ex:  # a fold that fails is a failed operation
            failed += 1
            problems[fold] = f"{type(ex).__name__}: {ex}"
            continue
        fold_s[fold] = time.perf_counter() - t0
        progress[fold] = [p for p in q.recentProgress if _field(p, "numInputRows")]
        folded += sum(_field(p, "numInputRows") for p in progress[fold])
        first = progress[fold][0] if progress[fold] else None
        if first is not None:
            began = dt.datetime.fromisoformat(
                _field(first, "timestamp").replace("Z", "+00:00")
            ).timestamp()
            end = began + _field(first, "durationMs")["triggerExecution"] / 1e3
            start_s.append(end - wall0)
        spark.sparkContext.setJobGroup("gate", "correctness gate")
        bad = _gate(spark, eng, fold, qname, sink, rows)
        if fold != "subscribe":
            spark.catalog.dropTempView(qname)
        if bad:
            failed += 1
            problems[fold] = bad
    if problems:
        print(f"stream_ingest failures: {problems}", file=sys.stderr)

    batches = [p for ps in progress.values() for p in ps]
    trig = [_field(p, "durationMs")["triggerExecution"] for p in batches] or [float("nan")]
    e2e = {
        "setup_s": median(setup),
        "geomean_ms": geomean(trig),
        "throughput_per_s": folded / sum(fold_s.values()),
    }
    ctx.detail.update(rows=len(rows), batches=len(batches), fold_s=fold_s,
                      problems=problems)
    out = {"e2e": e2e, "attempted": len(FOLDS), "failed": failed}
    if ctx.trace:
        def phase(key):
            vals = [_field(p, "durationMs").get(key, 0) for p in batches]
            return median(vals) if vals else 0.0

        final_state = [
            _field(ps[-1], "stateOperators") for ps in progress.values() if ps
        ]
        commit = [
            sum(_field(s, "commitTimeMs") for s in _field(p, "stateOperators"))
            for p in batches if _field(p, "stateOperators")
        ]
        layer = {
            "stream.batches": len(batches),
            "stream.add_batch_ms": phase("addBatch"),
            "stream.query_planning_ms": phase("queryPlanning"),
            "stream.wal_commit_ms": phase("walCommit"),
            "stream.commit_offsets_ms": phase("commitOffsets"),
            "stream.latest_offset_ms": phase("latestOffset"),
            "stream.start_s": median(start_s),
            "state.rows_total": sum(
                _field(s, "numRowsTotal") for ops in final_state for s in ops
            ),
            "state.memory_bytes": sum(
                _field(s, "memoryUsedBytes") for ops in final_state for s in ops
            ),
            "state.commit_ms": median(commit) if commit else 0.0,
            "sources.land_s": median(setup),
        }
        for fold in FOLDS:
            layer[f"fold.{fold}_s"] = fold_s.get(fold, 0.0)
        # each query runs its micro-batch jobs under its own run id as the
        # job group; everything else this workload runs is grouped
        ctx.measured = lambda group: group not in ("setup", "gate")
        out["layer"] = layer
    return out
