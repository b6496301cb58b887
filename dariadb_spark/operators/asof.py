"""As-of / latest-point operators.

* ``read_time_point`` — reference ``Engine::readTimePoint(QueryTimePoint)``
  (libdariadb/engine.cpp): for each *requested* id, the latest point with
  ``time <= time_point``; ids with no candidate yield a synthesized
  ``Meas{id, time=tp, value=0, flag=_NO_DATA}``. One row per distinct
  requested id, always — the reference returns an ``Id2Meas`` map
  (SURVEY.md §3.3).
* ``current_value`` — reference ``Engine::currentValue(ids, flag)``:
  latest value per series.

Plan shape: filter → one per-id ``max(struct(time, value, flag))``. It is
a partial aggregate: each map task combines its rows down to one per id
before the shuffle, so only (tasks × ids) rows cross it — a window would
shuffle and sort every filtered row. ``read_time_point`` puts each
requested id into the same aggregate as an all-NULL row (a local
relation, not a join); an id whose max is that row gets the ``_NO_DATA``
filler. With explicit ids the result (≤ ``len(ids)`` rows) is sorted in
one partition; ``current_value(ids=None)`` keeps the global ``orderBy``.
At 100 TB the heavy lifting is the pushed-down
``time <= tp AND id IN (...)`` scan prune.

Determinism: duplicate (id, time) pairs are broken by (value, flag)
descending — structs compare field by field, a NaN value above every
number and NULL below — the same total order as the DuckDB oracle's
``ORDER BY time DESC, value DESC, flag DESC``, so engine and oracle agree
bit-for-bit (SURVEY.md §7.3.4 LWW policy pick).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dariadb_spark.model import (
    FLAGS_NO_DATA,
    MEAS_FIELDS,
    flag_predicate,
    ids_predicate,
    local_frame,
    order_by_id,
    pushdown_time_bounds,
)


def _latest_per_id(filtered: DataFrame) -> DataFrame:
    """Per-id "latest first" row: the max of struct(time, value, flag),
    i.e. time desc, then value/flag desc (structs compare field by field,
    NaN above every number, NULL below)."""
    return (
        filtered.groupBy("id")
        .agg(F.max(F.struct("time", "value", "flag")).alias("_latest"))
        .select("id", "_latest.time", "_latest.value", "_latest.flag")
    )


def read_time_point(
    spark: SparkSession,
    meas: DataFrame,
    ids: list[int],
    time_point_ms: int,
    flag: int = 0,
) -> DataFrame:
    """One row per distinct requested id (the reference answers an
    ``Id2Meas`` map): the latest point at/before ``time_point_ms``, or a
    ``_NO_DATA`` filler row (value=0, time=tp)."""
    ids = [int(i) for i in ids]
    candidates = meas.where(
        F.col("id").isin(ids)
        & pushdown_time_bounds(meas, None, time_point_ms)
        & flag_predicate(flag)
    ).select(*MEAS_FIELDS)
    # every requested id also enters the aggregate as an all-NULL row,
    # which any real candidate outranks (its time is never NULL); an id
    # left with only that row gets the _NO_DATA filler — no join
    fillers = local_frame(spark, [(i,) for i in ids], "id bigint").select(
        "id",
        F.lit(None).cast("bigint").alias("time"),
        F.lit(None).cast("double").alias("value"),
        F.lit(None).cast("bigint").alias("flag"),
    )
    latest = _latest_per_id(candidates.unionByName(fillers)).select(
        "id",
        F.coalesce(F.col("time"), F.lit(time_point_ms)).alias("time"),
        F.coalesce(F.col("value"), F.lit(0.0)).alias("value"),
        F.coalesce(F.col("flag"), F.lit(FLAGS_NO_DATA)).alias("flag"),
    )
    return order_by_id(latest, ids)


def current_value(
    meas: DataFrame, ids: list[int] | None = None, flag: int = 0
) -> DataFrame:
    """Latest measurement per series (no ``_NO_DATA`` synthesis — the
    reference returns only series that exist; empty ids = all series)."""
    latest = _latest_per_id(
        meas.where(ids_predicate(ids) & flag_predicate(flag))
    )
    return order_by_id(latest, ids)
