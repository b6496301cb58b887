"""Workload ``tsdb_serve``: a ``TsServer`` in front of a parquet-backed
``TsEngine``, driven by a closed loop.

Set-up opens a store and loads generated ``Meas`` rows. The load comes
from one generator process with two client connections; each connection
sends its next request only when the previous answer has arrived. About a
quarter of the requests (two in every block of eight, in seeded order)
are small binary appends into recent time (with
``isolated=True``, the store's documented mode for concurrent writers); the
rest are reads spread over ``read_interval``, ``read_time_point``,
``current_value``, ``stat``, ``calc`` and ``downsample``. The run is split
into cycles; each cycle ends with a ``compact`` sent while no other
request is in flight, as the store's concurrency contract requires.

The generator is ``python3 perfbench/serve.py PORT SEED SECONDS OUT``, a
child process of the run; it writes its result as JSON to ``OUT``.

The connections first share one untimed block, so no verb's first,
cold call is timed. After the last cycle the generator makes a seeded set of verification
reads and compares each with its own pandas model of everything loaded
and appended; a mismatch counts as a failed operation.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import threading
import time
from statistics import geometric_mean as geomean
from statistics import median

import numpy as np
import pandas as pd

import gen

N_SERIES = 200
DAY_MS = 86_400_000
START_MS = 1_704_067_200_000  # 2024-01-01 00:00 UTC
DAYS = 3
STEP_MS = 600_000
CONNECTIONS = 2
CYCLES = 3
APPEND_SHARE = 0.25
APPEND_SERIES, APPEND_SAMPLES = 20, 5
SETUP_REPEATS = 3
READ_VERBS = (
    "read_interval", "read_time_point", "current_value", "stat", "calc",
    "downsample",
)
CALC_FUNCTIONS = ["average", "max", "count"]

LAYER_METRICS: dict[str, str] = {
    "net.overhead_ms": "ms",
    "net.response_bytes": "bytes",
    "engine.build_ms": "ms",
    "engine.exec_ms": "ms",
    "spark.jobs_per_op": "count",
    "sources.files": "count",
    "sources.append_ms": "ms",
    "sources.compact_bytes": "bytes",
    "op.append_ms": "ms",
    "op.compact_s": "s",
    **{f"op.{v}_ms": "ms" for v in READ_VERBS},
}


def initial_rows(seed: int) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    return gen.meas_frame(
        rng, N_SERIES, START_MS, START_MS + DAYS * DAY_MS, STEP_MS
    )


# -- the generator process ------------------------------------------------------

#: one block of requests: a quarter appends, every read verb once; each
#: connection sends blocks in a seeded order
BLOCK = ("append", "append", *READ_VERBS)


def _request(rng: np.random.Generator, verb: str, conn: int, n_appends: int):
    """The seeded parameters of one request: (verb, kwargs) for the client."""
    end = START_MS + DAYS * DAY_MS
    if verb == "append":
        ids = rng.choice(N_SERIES, APPEND_SERIES, replace=False)
        # recent time, unique per (connection, append, sample): no two
        # rows of one series share a timestamp
        base = end + (n_appends * APPEND_SAMPLES) * 1_000 * CONNECTIONS
        rows = [
            (int(i), base + (k * CONNECTIONS + conn) * 1_000,
             float(np.round(rng.uniform(0, 100), 2)), 1)
            for i in ids for k in range(APPEND_SAMPLES)
        ]
        return verb, {"rows": rows, "binary": True, "isolated": True}
    ids = [int(i) for i in rng.choice(N_SERIES, 5, replace=False)]
    lo = START_MS + int(rng.integers(0, (DAYS - 1) * DAY_MS))
    if verb == "read_interval":
        return verb, {"ids": ids[:2], "from_ms": lo, "to_ms": lo + DAY_MS // 4,
                      "encoding": "bin"}
    if verb == "read_time_point":
        return verb, {"ids": ids, "time_point_ms": lo, "encoding": "bin"}
    if verb == "current_value":
        return verb, {"ids": ids, "encoding": "bin"}
    if verb == "stat":
        return verb, {"ids": ids, "from_ms": lo, "to_ms": lo + DAY_MS}
    if verb == "calc":
        return verb, {"names": CALC_FUNCTIONS, "ids": ids[:3], "from_ms": lo,
                      "to_ms": lo + DAY_MS}
    return verb, {"interval": "hour", "ids": ids[:2], "from_ms": lo,
                  "to_ms": lo + DAY_MS // 4}


def _closed_loop(client, rng, conn, n_appends, stop_at, ops, appended, lock,
                 busy):
    """One connection's closed loop: whole blocks of requests, each in a
    seeded order, started while ``time.perf_counter()`` is before
    ``stop_at``. Only whole blocks are sent, so every run has the same mix
    of verbs; a cut block would leave the mix, and with it the latency
    and throughput, to where the clock stopped. With ``stop_at`` None it
    sends this connection's share of one block
    (``BLOCK[conn::CONNECTIONS]``) and stops. ``n_appends[conn]`` carries
    over cycles; the loop's time and its completed requests are added to
    ``busy[conn]``."""
    t_start = time.perf_counter()
    order = list(rng.permutation(BLOCK if stop_at else BLOCK[conn::CONNECTIONS]))
    done = 0
    while order:
        verb, kw = _request(rng, order.pop(), conn, n_appends[conn])
        t0 = time.perf_counter()
        try:
            getattr(client, verb)(**kw)
            ok = True
        except Exception as ex:  # a refused or failed request is counted
            ok = False
            print(f"tsdb_serve {verb} failed: {ex}", file=sys.stderr)
        dt = time.perf_counter() - t0
        done += ok
        with lock:
            ops.append((verb, dt, ok))
            if verb == "append" and ok:
                appended.extend(kw["rows"])
        if verb == "append":
            n_appends[conn] += 1
        if not order and stop_at is not None and time.perf_counter() < stop_at:
            order = list(rng.permutation(BLOCK))
    seconds, requests = busy[conn]
    busy[conn] = (seconds + time.perf_counter() - t_start, requests + done)


def _verify(client, model: pd.DataFrame, rng) -> list[str]:
    """Seeded verification reads against the pandas model."""
    bad = []
    ids = [int(i) for i in rng.choice(N_SERIES, 4, replace=False)]
    lo, hi = START_MS, START_MS + 2 * DAYS * DAY_MS
    _, rows = client.read_interval(ids[:2], lo, hi, encoding="bin")
    want = model[model.id.isin(ids[:2]) & model.time.between(lo, hi)]
    if sorted(rows) != sorted(map(tuple, want.itertuples(index=False))):
        bad.append(f"read_interval {ids[:2]}: {len(rows)} vs {len(want)} rows")
    _, rows = client.current_value(ids, encoding="bin")
    last = model[model.id.isin(ids)].sort_values(["id", "time"]).groupby("id").tail(1)
    if sorted(rows) != sorted(map(tuple, last.itertuples(index=False))):
        bad.append(f"current_value {ids}")
    _, rows = client.stat(ids, lo, hi)
    for row in rows:
        g = model[(model.id == row[0]) & model.time.between(lo, hi)]
        want = (len(g), int(g.time.min()), int(g.time.max()),
                float(g.value.min()), float(g.value.max()))
        if tuple(row[1:6]) != want or not np.isclose(row[6], g.value.sum()):
            bad.append(f"stat id={row[0]}: {row} vs {want}")
    if len(rows) != len(ids):
        bad.append(f"stat: {len(rows)} series, want {len(ids)}")
    return bad


def client_main(port: int, seed: int, seconds: float, out: str) -> None:
    """The generator process: closed-loop cycles, quiesced compactions,
    then the verification reads. Writes one result dict as JSON to the
    file ``out``."""
    from dariadb_spark.net import TsClient

    clients = [TsClient("127.0.0.1", port, timeout_s=120) for _ in range(CONNECTIONS)]
    rngs = [np.random.default_rng([seed, c]) for c in range(CONNECTIONS)]
    ops: list = []
    appended: list = []
    compacts: list = []
    lock = threading.Lock()
    n_appends = [0] * CONNECTIONS
    #: per connection: (seconds in timed loops, requests completed there)
    busy = [(0.0, 0)] * CONNECTIONS
    windows = []  # wall-clock spans of the timed load, for the server's trace

    def load(stop_at, into, busy):
        threads = [
            threading.Thread(
                target=_closed_loop,
                args=(clients[c], rngs[c], c, n_appends, stop_at, into,
                      appended, lock, busy),
            )
            for c in range(CONNECTIONS)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=150)

    try:
        warm: list = []
        # one untimed block across the connections
        load(None, warm, [(0.0, 0)] * CONNECTIONS)
        ops.extend(op for op in warm if not op[2])  # failures still count
        for _ in range(CYCLES):
            wall0 = time.time()
            load(time.perf_counter() + seconds / CYCLES, ops, busy)
            windows.append((wall0, time.time()))
            t0 = time.perf_counter()
            clients[0].compact()  # every connection is idle here
            compacts.append(time.perf_counter() - t0)
        model = pd.concat([
            initial_rows(seed),
            pd.DataFrame(appended, columns=["id", "time", "value", "flag"]),
        ])
        bad = _verify(clients[0], model, np.random.default_rng([seed, 99]))
        res = {"ops": ops, "compacts": compacts, "busy": busy,
               "windows": windows, "verify": bad}
    except Exception as ex:
        res = {"error": f"{type(ex).__name__}: {ex}"}
    finally:
        for c in clients:
            c.close()
    with open(out, "w") as fh:
        json.dump(res, fh)


# -- the server side -------------------------------------------------------------

def _engine_class(trace: bool):
    from dariadb_spark.engine import TsEngine

    if not trace:
        return TsEngine, None

    class Recorder:
        """Server-side samples, each stamped with the wall clock."""

        def __init__(self):
            self.lock = threading.Lock()
            self.samples: dict[str, list] = {}
            self.ops = 0

        def add(self, field, value):
            with self.lock:
                self.samples.setdefault(field, []).append((time.time(), value))

        def within(self, field, windows) -> list:
            """Samples taken while the timed load ran (not the warm-up
            block, the compactions or the verification reads)."""
            return [v for t, v in self.samples.get(field, ())
                    if any(lo <= t <= hi for lo, hi in windows)]

    rec = Recorder()

    def _store_files(store) -> list:
        return list(store.data_dir.glob("p_date=*/*.parquet"))

    def _timed_frame(df):
        """Time the action the server runs on the frame (collect or
        toPandas) and the size of what it returns."""
        for action in ("collect", "toPandas"):
            orig = getattr(df, action)

            def timed(orig=orig, action=action):
                t0 = time.perf_counter()
                res = orig()
                rec.add("exec", time.perf_counter() - t0)
                if action == "toPandas":
                    size = len(res) * 32 * 4 // 3  # packed Meas, base64
                else:
                    size = len(json.dumps([list(r) for r in res], default=str))
                rec.add("bytes", size)
                return res

            setattr(df, action, timed)
        return df

    class TracedEngine(TsEngine):
        def _read(self, verb, *args, **kwargs):
            self.spark.sparkContext.setJobGroup("op", verb)
            with rec.lock:
                rec.ops += 1
            rec.add("files", len(_store_files(self.store)))
            t0 = time.perf_counter()
            df = getattr(super(), verb)(*args, **kwargs)
            rec.add("build", time.perf_counter() - t0)
            return _timed_frame(df)

        def append(self, rows, isolated=False):
            self.spark.sparkContext.setJobGroup("op", "append")
            with rec.lock:
                rec.ops += 1
            t0 = time.perf_counter()
            n = super().append(rows, isolated=isolated)
            rec.add("append", time.perf_counter() - t0)
            return n

        def compact(self):
            self.spark.sparkContext.setJobGroup("compact", "compact")
            rec.add("compact_bytes",
                    sum(f.stat().st_size for f in _store_files(self.store)))
            super().compact()

    for verb in READ_VERBS:
        setattr(TracedEngine, verb,
                lambda self, *a, _v=verb, **k: self._read(_v, *a, **k))
    return TracedEngine, rec


def run(ctx) -> dict:
    from dariadb_spark.engine import TsEngine
    from dariadb_spark.net import TsServer

    spark = ctx.spark
    engine_cls, rec = _engine_class(ctx.trace)
    rows = initial_rows(ctx.seed)
    setup = []
    store = ""
    for k in range(SETUP_REPEATS):
        if store:
            shutil.rmtree(store)
        store = os.path.join(ctx.work, f"store{k}")
        t0 = time.perf_counter()
        eng = engine_cls.open(spark, store)
        # the plain verb: the traced one would count the load as served
        TsEngine.append(eng, spark.createDataFrame(rows))
        setup.append(time.perf_counter() - t0)

    server = TsServer(eng).start()
    result = os.path.join(ctx.work, "generator.json")
    # its standard output goes to ours as standard error: the run's last
    # line of standard output is the result line
    proc = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), str(server.port),
         str(ctx.seed), str(ctx.seconds), result],
        stdout=sys.stderr,
    )
    try:
        proc.wait(timeout=ctx.seconds + 120)
    finally:
        if proc.poll() is None:
            proc.kill()
        proc.wait()
        server.stop()
    if proc.returncode != 0:
        raise RuntimeError(f"generator exited with code {proc.returncode}")
    with open(result) as fh:
        res = json.load(fh)
    if "error" in res:
        raise RuntimeError(f"generator failed: {res['error']}")

    ops = res["ops"]
    failed = sum(not ok for _, _, ok in ops) + len(res["verify"])
    if res["verify"]:
        print(f"tsdb_serve verification: {res['verify']}", file=sys.stderr)
    reads = [dt for v, dt, ok in ops if ok and v != "append"]
    done = [dt for _, dt, ok in ops if ok]
    e2e = {
        "setup_s": median(setup),
        "geomean_ms": geomean(done) * 1e3,
        # each connection's rate over its own loops: a connection whose
        # block ends first waits for the other, and that wait is not load
        "throughput_per_s": sum(n / s for s, n in res["busy"]),
    }
    by_verb = {}
    for v, dt, ok in ops:
        if ok:
            by_verb.setdefault(v, []).append(dt)
    ctx.detail.update(
        ops=len(ops), reads=len(reads), compact_s=res["compacts"],
        per_verb={v: len(d) for v, d in by_verb.items()},
    )
    out = {"e2e": e2e, "attempted": len(ops) + 3, "failed": failed}
    if ctx.trace:
        def timed(field):
            return rec.within(field, res["windows"]) or [0.0]

        build, execs = timed("build"), timed("exec")
        layer = {
            # means, so client and server sides of the same reads subtract
            "net.overhead_ms": (
                sum(reads) / len(reads) - sum(build) / len(build)
                - sum(execs) / len(execs)
            ) * 1e3,
            "net.response_bytes": median(timed("bytes")),
            "engine.build_ms": median(build) * 1e3,
            "engine.exec_ms": median(execs) * 1e3,
            "sources.files": median(timed("files")),
            "sources.append_ms": median(timed("append")) * 1e3,
            "sources.compact_bytes": median(
                [v for _, v in rec.samples.get("compact_bytes", [(0, 0.0)])]
            ),
            "op.append_ms": median(by_verb["append"]) * 1e3,
            "op.compact_s": median(res["compacts"]),
        }
        for v in READ_VERBS:
            layer[f"op.{v}_ms"] = median(by_verb.get(v, [0.0])) * 1e3
        ctx.measured = lambda group: group == "op"

        def per_op(log):
            layer["spark.jobs_per_op"] = log.total("spark.jobs", ctx.measured) / max(rec.ops, 1)

        ctx.after_stop.append(per_op)
        out["layer"] = layer
    return out


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    client_main(int(sys.argv[1]), int(sys.argv[2]), float(sys.argv[3]), sys.argv[4])
