"""Served read verbs: Spark job budget, plan shape, store types, tie-breaks.

A ``TsServer`` request runs one engine verb and collects its result, so
each Spark job a verb plans (schema inference, a parallelized id list, a
global sort's range sampling) is paid on every request. These tests pin
what the served verbs need and no more:

* with explicit ids, ``read_time_point``/``current_value``/``stat``/
  ``calc`` run at most 2 jobs (one shuffle stage plus the result);
* the as-of plans are one partial aggregate — no ``Window``, no RDD scan;
* unbounded results (``ids=None``) keep the global ``orderBy``;
* both stores write the canonical Meas types, which their fixed read
  schema relies on;
* the as-of tie-break (time, value, flag descending, NaN above every
  number) matches the DuckDB oracle's ``ORDER BY``.
"""

from __future__ import annotations

import math

import pytest

from dariadb_spark import TsEngine
from dariadb_spark.model import FLAGS_NO_DATA

T0 = 1_704_067_200_000  # 2024-01-01 00:00:00 UTC
HOUR = 3_600_000
IDS = [1, 3, 7]


@pytest.fixture(scope="module")
def small_store(spark, tmp_path_factory):
    eng = TsEngine.open(spark, str(tmp_path_factory.mktemp("served")))
    rows = [
        (i, T0 + k * HOUR, float(i * 100 + k), k % 4)
        for i in range(10)
        for k in range(48)
    ]
    eng.append(rows[::2])
    eng.append(rows[1::2])
    return eng


def _jobs(spark, group: str, action) -> int:
    """Spark jobs started by ``action()`` — plan build included — counted
    by job group through the status tracker."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


_BOUNDED = {
    "read_time_point": lambda e: e.read_time_point(IDS, T0 + 30 * HOUR),
    "current_value": lambda e: e.current_value(IDS),
    "stat": lambda e: e.stat(IDS, T0, T0 + 24 * HOUR),
    "calc": lambda e: e.calc(["average", "median"], IDS, T0, T0 + 24 * HOUR),
}


@pytest.mark.parametrize("verb", sorted(_BOUNDED))
def test_id_bounded_verbs_run_at_most_two_jobs(spark, small_store, verb):
    build = _BOUNDED[verb]
    out: list = []
    n = _jobs(spark, f"served-{verb}",
              lambda: out.extend(build(small_store).collect()))
    assert len(out) == len(IDS)
    assert [r.id for r in out] == sorted(IDS)
    assert n <= 2, f"{verb} ran {n} Spark jobs"


def _executed(df) -> str:
    df.collect()  # final (post-AQE) plan
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize(
    "build",
    [
        lambda e: e.read_time_point(IDS + [99], T0 + 30 * HOUR),
        lambda e: e.current_value(IDS),
        lambda e: e.current_value(),
    ],
    ids=["read_time_point", "current_value_ids", "current_value_all"],
)
def test_asof_plans_are_one_partial_aggregate(small_store, build):
    plan = _executed(build(small_store))
    assert "Window" not in plan, plan
    assert "ExistingRDD" not in plan, plan
    assert "partial_max" in plan, plan


@pytest.mark.parametrize(
    "build",
    [
        lambda e: e.current_value(),
        lambda e: e.stat(None, T0, T0 + 24 * HOUR),
        lambda e: e.calc(["average"], None, T0, T0 + 24 * HOUR),
    ],
    ids=["current_value", "stat", "calc"],
)
def test_unbounded_results_keep_global_order(small_store, build):
    df = build(small_store)
    plan = _executed(df)
    assert "rangepartitioning" in plan, plan
    ids = [r.id for r in df.collect()]
    assert ids == sorted(ids) and len(ids) == 10


@pytest.mark.parametrize("backend", ["parquet", "log"])
def test_store_writes_canonical_types(spark, tmp_path, backend):
    """A frame with int id/flag and float value lands as bigint/double:
    the stores read with their fixed schema, so the write must match it."""
    eng = TsEngine.open(spark, str(tmp_path / "s"), backend=backend)
    rows = [(i, T0 + k * HOUR, 0.25 * (i + k), 1 << (k % 3))
            for i in range(3) for k in range(6)]
    df = spark.createDataFrame(
        rows, "id int, time bigint, value float, flag int"
    )
    assert eng.append(df) == len(rows)
    import pyarrow.parquet as pq

    files = sorted(eng.store.data_dir.rglob("*.parquet"))
    assert files
    for f in files:  # the physical types, not what a widening read shows
        schema = pq.read_schema(f)
        assert [str(schema.field(c).type) for c in
                ("id", "time", "value", "flag")] == [
            "int64", "int64", "double", "int64"], f
    meas = {"id": "bigint", "time": "bigint", "value": "double",
            "flag": "bigint"}
    got = eng.read_interval(None, T0, T0 + 6 * HOUR)
    assert dict(got.dtypes) == meas
    assert sorted(map(tuple, got.collect())) == sorted(rows)
    tp = eng.read_time_point([0, 2, 9], T0 + 2 * HOUR)
    assert dict(tp.dtypes) == meas
    assert [tuple(r) for r in tp.collect()] == [
        (0, T0 + 2 * HOUR, 0.5, 4),
        (2, T0 + 2 * HOUR, 1.0, 4),
        (9, T0 + 2 * HOUR, 0.0, FLAGS_NO_DATA),
    ]
    cur = eng.current_value([1])
    assert dict(cur.dtypes) == meas
    assert [tuple(r) for r in cur.collect()] == [(1, T0 + 5 * HOUR, 1.5, 4)]
    mm = eng.min_max_time([2])
    assert [tuple(r) for r in mm.collect()] == [(2, T0, T0 + 5 * HOUR)]
    st = eng.stat([0], T0, T0 + 6 * HOUR)
    assert dict(st.dtypes)["min_value"] == "double"
    assert tuple(st.collect()[0]) == (
        0, 6, T0, T0 + 5 * HOUR, 0.0, 1.25, 3.75, 3.75 / 6
    )
    calc = eng.calc(["maximum", "count"], [1], T0, T0 + 6 * HOUR)
    assert dict(calc.dtypes) == {
        "id": "bigint", "maximum": "double", "count": "bigint"
    }
    assert tuple(calc.collect()[0]) == (1, 1.5, 6)
    ds = eng.downsample("hour", [2], T0, T0 + 6 * HOUR)
    assert dict(ds.dtypes)["id"] == "bigint"
    assert [r.cnt for r in ds.collect()] == [1] * 6
    # maintenance rewrites keep the types and the values
    eng.compact()
    again = eng.read_interval(None, T0, T0 + 6 * HOUR)
    assert dict(again.dtypes) == meas
    assert sorted(map(tuple, again.collect())) == sorted(rows)


def _canon(row) -> tuple:
    """Row as a tuple NaN compares equal in."""
    return tuple("nan" if isinstance(v, float) and math.isnan(v) else v
                 for v in row)


def test_asof_tie_break_matches_duckdb(spark, tmp_path):
    """Duplicate (id, time) samples, NaN values among them, resolve to
    the row the oracle's ``ORDER BY time DESC, value DESC, flag DESC``
    puts first, for both read_time_point and current_value."""
    import duckdb

    nan, inf = float("nan"), float("inf")
    t1, t2 = T0 + HOUR, T0 + 2 * HOUR
    rows = [
        # id 1: NaN outranks every number at the same time
        (1, t1, 5.0, 1), (1, t1, nan, 2), (1, t1, inf, 8),
        # id 2: equal value, flag decides
        (2, t1, 3.0, 1), (2, t1, 3.0, 16), (2, t1, 3.0, 4),
        # id 3: NaN twice, flag decides
        (3, t1, nan, 1), (3, t1, nan, 2), (3, t1, -1.0, 64),
        # id 4: the later time wins over a larger value
        (4, t1, 9.0, 1), (4, t2, -9.0, 1), (4, t2, -inf, 2),
        # id 5: NaN at the later time only
        (5, t1, 1.0, 1), (5, t2, nan, 0), (5, t2, 0.0, 32),
    ]
    eng = TsEngine.open(spark, str(tmp_path / "ties"))
    eng.append(rows)

    con = duckdb.connect()
    # typed insert: a registered pandas frame would read NaN as NULL
    con.execute("CREATE TABLE m (id BIGINT, time BIGINT, value DOUBLE,"
                " flag BIGINT)")
    con.executemany("INSERT INTO m VALUES (?, ?, ?, ?)", rows)
    assert con.execute("SELECT count(*) FROM m WHERE isnan(value)"
                       ).fetchone()[0] == 4

    def oracle(where: str) -> list[tuple]:
        return [_canon(r) for r in con.execute(f"""
            SELECT id, time, value, flag FROM (
              SELECT *, row_number() OVER (PARTITION BY id
                ORDER BY time DESC, value DESC, flag DESC) AS rn
              FROM m WHERE {where}) WHERE rn = 1 ORDER BY id""").fetchall()]

    got_cv = [_canon(r) for r in eng.current_value().collect()]
    assert got_cv == oracle("TRUE")
    got_cv_ids = [_canon(r) for r in eng.current_value([2, 5]).collect()]
    assert got_cv_ids == oracle("id IN (2, 5)")

    got_tp = [_canon(r) for r in eng.read_time_point([1, 2, 3, 4, 5, 6], t1)
              .collect()]
    want_tp = oracle(f"time <= {t1}") + [(6, t1, 0.0, FLAGS_NO_DATA)]
    # id 4/5's t2 rows are after the time point: their t1 rows win
    assert got_tp == want_tp
