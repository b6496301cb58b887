"""Parquet-backed measurement store — the Spark-native rendering of the
reference's 3-layer LSM pipeline (SURVEY.md §1.3).

Reference storage (libdariadb/storage/):
  * WAL (wal/wal_manager.cpp)        → small append-delta parquet files
  * Pages + .pagei index (pages/)    → compacted parquet, sorted (id,time)
    within files so row-group min/max stats prune by both id and time —
    the exact role of the chunk index
  * Dropper background WAL→page drop → ``compact()``
  * eraseOld retention (engine.cpp)  → partition-pruned rewrite/drop
  * Manifest                         → the filesystem listing (on a real
    deployment this store is one Delta/Iceberg table and the transaction
    log plays manifest/WAL; this class keeps the same interface)

Layout: ``<root>/data/p_date=YYYY-MM-DD/part-*.parquet`` — hive-partitioned
by UTC day derived from the epoch-ms ``time`` column. Day partitioning
bounds every interval query to the touched days (partition pruning) and
makes retention a partition drop; at 100 TB each day is still split across
many files so per-day parallelism is preserved.
"""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dariadb_spark.model import (
    MEAS_DDL,
    MEAS_FIELDS,
    RAW_DAY,
    STORE_DDL,
    canonical_meas,
)

_DAY_MS = 86_400_000


def _with_day(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "p_date", F.date_format(F.timestamp_millis(F.col("time")), "yyyy-MM-dd")
    )


class ParquetTsStore:
    """Append/scan/compact/retention over a partitioned parquet directory.

    Concurrency contract (the manifest-free analog of a Delta/Iceberg
    transaction log — on a real deployment swap this class for one table
    and the log subsumes all of this):

    * ``append()`` concurrent with ``read()``/``subscribe`` is safe at
      FILE granularity: Spark commits parquet files by rename, so a
      directory listing never observes half a file. A multi-day append
      is NOT atomic as a whole — a reader listing mid-commit can see
      some of its days only. ``read_snapshot()`` pins one listing for
      multi-action queries so the frame can't change between its jobs.
    * ``compact()`` / ``erase_old()`` rewrite directories in place and
      require a single-maintainer window: no concurrent append, and
      concurrent readers may fail mid-swap and must retry (rename-aside
      order guarantees no data loss on a crash — the aside dir survives).
    * ``append()`` concurrent with ``append()`` from SEPARATE driver
      processes is NOT safe with the default Hadoop committer: both
      jobs stage under the same ``<path>/_temporary`` tree, and the
      first committer's cleanup can silently drop the other job's
      in-flight task files. Within ONE application, appends issued
      sequentially (this class's usage) are fine. A multi-ingest
      deployment passes ``append(..., isolated=True)`` — per-append
      unique staging + uniquely-named renames, no shared state between
      writers (contract pinned by
      ``test_isolated_appends_are_concurrent_safe``); the trade (crash
      mid-publish leaves a partial, never corrupt, append) is on the
      method docstring. Full multi-writer ATOMICITY — not just
      isolation — is the Delta/Iceberg swap, whose transaction log
      makes concurrent appends first-class; a homegrown commit log
      here would be rebuilding that badly.

    Fixed schema: every file holds ``id bigint, time bigint, value
    double, flag bigint`` under a ``p_date=YYYY-MM-DD`` directory
    (:data:`~dariadb_spark.model.STORE_DDL`). ``append()`` casts to those
    types before writing, so reads pass the schema instead of inferring
    it — inference costs a footer-reading Spark job on every read.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = Path(root)
        self.data_dir = self.root / "data"
        self.data_dir.mkdir(parents=True, exist_ok=True)

    # -- S1: append (Engine::append) ------------------------------------
    def append(self, meas: DataFrame, isolated: bool = False) -> int:
        """Append a measurements DataFrame (id,time,value,flag). Returns
        the appended row count (the reference's Status.writed), observed
        DURING the write action — a separate ``count()`` would re-run the
        whole input pipeline a second time.

        ``isolated=True`` is the multi-ingest path (the executable form
        of the append-vs-append hazard documented on the class): the
        write stages under a per-append unique directory and the part
        files are then renamed into the day partitions under unique
        names — concurrent appends never share a ``_temporary`` tree or
        a file name, from any number of driver processes. The trade,
        stated explicitly: the default committer makes a whole append
        visible atomically at job commit, while the isolated path
        publishes file-by-file — a crash mid-publish leaves a PARTIAL
        append visible (never a corrupt file; renames are atomic).
        That is at-least-once ingest territory, which the streaming
        exact-dedup path exists to absorb; full multi-writer atomicity
        is the Delta/Iceberg swap's job, not a hand-rolled log here."""
        from pyspark.sql import Observation

        obs = Observation()
        writer = (
            _with_day(canonical_meas(meas))
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .write.partitionBy("p_date")
        )
        if not isolated:
            writer.mode("append").parquet(str(self.data_dir))
            return obs.get["n"]
        import os
        import uuid

        token = uuid.uuid4().hex
        stage = self.root / f"stage-{token}"
        try:
            writer.mode("errorifexists").parquet(str(stage))
            for pdir in sorted(stage.glob("p_date=*")):
                dest = self.data_dir / pdir.name
                dest.mkdir(parents=True, exist_ok=True)
                for f in sorted(pdir.glob("*.parquet")):
                    os.rename(f, dest / f"{token}-{f.name}")
        finally:
            shutil.rmtree(stage, ignore_errors=True)
        return obs.get["n"]

    # -- scan -------------------------------------------------------------
    def read(self) -> DataFrame:
        """The live measurements DataFrame. The hive partition column is
        carried along (as ``_p_date``) so ``pushdown_time_bounds`` can add
        the day-range bound that actually prunes partition directories —
        a bound on ``time`` alone prunes row groups but NOT the directory
        listing. Operators project it away before returning."""
        if not any(self.data_dir.iterdir()):
            return self.spark.createDataFrame([], MEAS_DDL)
        return self._scan(self.data_dir).select(
            *MEAS_FIELDS, F.col("p_date").alias(RAW_DAY)
        )

    def read_snapshot(self) -> DataFrame:
        """Like :meth:`read`, but pinned to the file listing taken NOW:
        a query planned from this frame sees exactly these files even if
        ``append()`` commits more while the query's jobs run (Spark
        re-lists a directory-scoped scan per action; an explicit file
        list does not). Use for any multi-action read concurrent with a
        writer."""
        files = sorted(
            str(p) for p in self.data_dir.glob("p_date=*/*.parquet")
        )
        if not files:
            return self.spark.createDataFrame([], MEAS_DDL)
        return (
            self.spark.read.option("basePath", str(self.data_dir))
            .schema(STORE_DDL)
            .parquet(*files)
            .select(*MEAS_FIELDS, F.col("p_date").alias(RAW_DAY))
        )

    def _scan(self, path: Path, ddl: str = STORE_DDL) -> DataFrame:
        """A parquet scan of ``path`` with the store's fixed schema
        (:data:`MEAS_DDL` for a directory without day partitions)."""
        return self.spark.read.schema(ddl).parquet(str(path))

    # -- T5: compaction (Dropper / Engine::compress_all) ------------------
    def compact(self, files_per_partition: int = 1) -> None:
        """Rewrite each day partition into few files sorted by (id, time) —
        the WAL→page drop: small append deltas become scan-optimal files
        whose row-group stats prune on id and time."""
        df = self._scan(self.data_dir)
        tmp = self.root / "_compact_tmp"
        (
            df.repartition(files_per_partition, "p_date")
            .sortWithinPartitions("p_date", "id", "time")
            .write.partitionBy("p_date")
            .mode("overwrite")
            .parquet(str(tmp))
        )
        swap = self.root / "_old_data"
        self.data_dir.rename(swap)
        tmp.rename(self.data_dir)
        shutil.rmtree(swap)

    # -- T4: retention (Engine::eraseOld) ---------------------------------
    def erase_old(self, cutoff_ms: int) -> None:
        """Delete measurements with ``time < cutoff``. Whole days before
        the cutoff are dropped without reading them (partition prune);
        only the single boundary day is rewritten."""
        cutoff_day = (cutoff_ms // _DAY_MS) * _DAY_MS
        boundary = None
        for part in sorted(self.data_dir.glob("p_date=*")):
            day = part.name.split("=", 1)[1]
            import datetime as _dt

            day_ms = int(
                _dt.datetime.strptime(day, "%Y-%m-%d")
                .replace(tzinfo=_dt.timezone.utc)
                .timestamp()
                * 1000
            )
            if day_ms + _DAY_MS <= cutoff_ms:
                shutil.rmtree(part)  # fully expired day
            elif day_ms == cutoff_day:
                boundary = part
        if boundary is not None:
            kept = self._scan(boundary, MEAS_DDL).where(
                F.col("time") >= cutoff_ms
            )
            tmp = self.root / "_erase_tmp"
            kept.write.mode("overwrite").parquet(str(tmp))
            shutil.rmtree(boundary)
            rewritten = self._scan(tmp, MEAS_DDL)
            if rewritten.limit(1).count() > 0:
                _with_day(rewritten).write.partitionBy("p_date").mode(
                    "append"
                ).parquet(str(self.data_dir))
            shutil.rmtree(tmp)
