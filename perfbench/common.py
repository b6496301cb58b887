"""Plumbing shared by the workloads: the Spark session's start and stop,
and the reader that turns a Spark event log into per-layer counters."""

from __future__ import annotations

import ctypes
import glob
import json
import os
import shlex
import signal
import sys
import time
from collections import defaultdict


def cpus() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


# -- the run's processes ---------------------------------------------------------

PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the parent of every descendant whose own parent
    ends first (the JVM's launcher shells, its Python workers), so that
    ``end_children`` can wait for all of them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, f"prctl(PR_SET_CHILD_SUBREAPER): {os.strerror(err)}")


def _children() -> list[int]:
    """Pids whose parent is this process."""
    me, out = os.getpid(), []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                # pid (comm) state ppid ...: comm may hold spaces or ')'
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == me:
            out.append(int(name))
    return out


def end_children(grace_s: float = 10.0) -> None:
    """Reap every child until none is left, alive or exited. Children
    still running after ``grace_s`` get SIGTERM, and SIGKILL 5 s later."""
    deadline = time.monotonic() + grace_s
    signals = [signal.SIGTERM, signal.SIGKILL]
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] != 0:
                pass
        except ChildProcessError:
            return  # no child left
        if time.monotonic() >= deadline:
            if not signals:
                print(f"processes {_children()} survive SIGKILL", file=sys.stderr)
                return
            sig = signals.pop(0)
            for pid in _children():
                print(f"ending leftover process {pid} with {sig.name}",
                      file=sys.stderr)
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.05)


# -- the Spark session ---------------------------------------------------------

def start_spark(work: str, trace: bool):
    """Start ``local[nproc]`` through the package's own ``get_spark`` with
    every temporary file under ``work``. With ``trace`` the session also
    writes an event log (task metrics, SQL metrics, block updates) to
    ``work/eventlog``; the untraced session writes none."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        # no hsperfdata file under /tmp: the JVM writes nothing outside work
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.logBlockUpdates.enabled": "true",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
    ) + " pyspark-shell"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    from dariadb_spark.session import get_spark

    n = cpus()
    spark = get_spark("perfbench", master=f"local[{n}]", shuffle_partitions=n)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then close the JVM's stdin (the gateway exits on
    EOF) and wait for the JVM process to end."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


# -- the event log -------------------------------------------------------------

#: SQL metric names the Python evaluation nodes report (ArrowEvalPython,
#: FlatMapGroupsInPandas(WithState), MapInPandas, ...)
PY_BYTES_SENT = "data sent to Python workers"
PY_BYTES_RETURNED = "data returned from Python workers"


class EventLog:
    """Per job-group counters read from a finished session's event log.

    Job groups are the attribution key: the benchmark sets one around each
    call it makes into the program, and Spark records the group in every
    job's properties. ``storage_before[group]`` is the storage the session
    retained (persistent RDD count, cached bytes) just before the group's
    first job started."""

    COUNTERS = (
        "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
        "spark.executor_cpu_s", "spark.gc_s", "spark.shuffle_read_bytes",
        "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.input_bytes",
        "python.bytes_sent", "python.bytes_returned",
    )

    def __init__(self, log_dir: str) -> None:
        self.by_group: dict[str, dict[str, float]] = defaultdict(
            lambda: dict.fromkeys(self.COUNTERS, 0.0)
        )
        self.storage_before: dict[str, tuple[int, int]] = {}
        self.storage_end = (0, 0)
        self._stage_group: dict[int, str] = {}
        self._blocks: dict[str, tuple[int, int]] = {}  # block: (rdd, bytes)
        for path in _log_files(log_dir):
            with open(path) as fh:
                self._read(fh)

    def _read(self, fh) -> None:
        stage_group, blocks = self._stage_group, self._blocks
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id") or "-"
                if group not in self.storage_before:
                    self.storage_before[group] = _storage(blocks)
                self.by_group[group]["spark.jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                group = stage_group.get(info["Stage ID"], "-")
                c = self.by_group[group]
                c["spark.stages"] += 1
                for acc in info.get("Accumulables", []):
                    name = acc.get("Name")
                    if name == PY_BYTES_SENT:
                        c["python.bytes_sent"] += _num(acc.get("Value"))
                    elif name == PY_BYTES_RETURNED:
                        c["python.bytes_returned"] += _num(acc.get("Value"))
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"), "-")
                m = ev.get("Task Metrics") or {}
                if not m:
                    continue
                c = self.by_group[group]
                c["spark.tasks"] += 1
                c["spark.executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                c["spark.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                c["spark.gc_s"] += m.get("JVM GC Time", 0) / 1e3
                c["spark.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                sr = m.get("Shuffle Read Metrics") or {}
                c["spark.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                sw = m.get("Shuffle Write Metrics") or {}
                c["spark.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                c["spark.input_bytes"] += (m.get("Input Metrics") or {}).get(
                    "Bytes Read", 0
                )
            elif kind == "SparkListenerBlockUpdated":
                info = ev["Block Updated Info"]
                block = info["Block ID"]
                if not block.startswith("rdd_"):
                    continue
                size = info.get("Memory Size", 0) + info.get("Disk Size", 0)
                if size > 0:
                    blocks[block] = (int(block.split("_")[1]), size)
                else:
                    blocks.pop(block, None)
            elif kind == "SparkListenerUnpersistRDD":
                rdd = ev["RDD ID"]
                for b in [b for b, (r, _) in blocks.items() if r == rdd]:
                    del blocks[b]
        self.storage_end = _storage(blocks)

    def total(self, counter: str, keep=lambda group: True) -> float:
        """Sum of ``counter`` over the job groups ``keep`` accepts."""
        return sum(c[counter] for g, c in self.by_group.items() if keep(g))


def _log_files(log_dir: str) -> list[str]:
    """The log's files in write order: a rolling log is a directory of
    ``events_<n>_<app>`` parts."""
    files = [
        p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
        if os.path.isfile(p)
        and not os.path.basename(p).startswith((".", "appstatus"))
    ]

    def order(p):
        parts = os.path.basename(p).split("_")
        return int(parts[1]) if parts[0] == "events" and parts[1].isdigit() else 0

    return sorted(files, key=order)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _storage(blocks: dict[str, tuple[int, int]]) -> tuple[int, int]:
    return len({r for r, _ in blocks.values()}), sum(s for _, s in blocks.values())
