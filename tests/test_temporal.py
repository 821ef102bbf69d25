"""Handcrafted-fixture contracts for the temporal joins (ops/temporal.py):
as-of semantics (<= inclusion, latest-wins, tiebreak, null miss) and the
bucketed range join (exactly-once matches across multi-day windows,
half-open boundaries), plus the plan shapes that make them scale-safe.
"""

import datetime as dt

from pyspark.sql import Row
from pyspark.sql import functions as F

from ocrs_spark.ops.temporal import (
    asof_join,
    range_join_buckets,
    range_join_campaign_attribution,
)


def _ts(s):
    return dt.datetime.fromisoformat(s)


def _left(spark):
    return spark.createDataFrame(
        [
            Row(k=1, lid=10, lt=_ts("2024-01-05T12:00:00")),  # normal match
            Row(k=1, lid=11, lt=_ts("2024-01-02T00:00:00")),  # exact tie
            Row(k=1, lid=12, lt=_ts("2024-01-01T00:00:00")),  # before all -> null
            Row(k=2, lid=20, lt=_ts("2024-01-05T00:00:00")),  # other key
            Row(k=3, lid=30, lt=_ts("2024-01-05T00:00:00")),  # key w/o right rows
        ]
    ).select("k", "lid", F.col("lt").cast("timestamp_ntz"))


def _right(spark):
    return spark.createDataFrame(
        [
            Row(k=1, rid=100, rt=_ts("2024-01-02T00:00:00")),
            Row(k=1, rid=101, rt=_ts("2024-01-02T00:00:00")),  # same-ts tie
            Row(k=1, rid=102, rt=_ts("2024-01-04T00:00:00")),
            Row(k=1, rid=103, rt=_ts("2024-01-06T00:00:00")),  # after lid=10
            Row(k=2, rid=200, rt=_ts("2024-01-01T00:00:00")),
        ]
    ).select("k", "rid", F.col("rt").cast("timestamp_ntz"))


def test_asof_join_semantics(spark):
    out = asof_join(
        _left(spark),
        _right(spark),
        on=["k"],
        left_time="lt",
        right_time="rt",
        value_cols=["rid", "rt"],
        prefix="m_",
        tiebreak="rid",
    )
    rows = {r.lid: (r.m_rid, r.m_rt) for r in out.collect()}
    assert len(rows) == 5  # every left row survives exactly once
    # latest right row at or before 01-05 is rid=102 (01-04), not 103
    assert rows[10] == (102, _ts("2024-01-04T00:00:00"))
    # exact-timestamp right row matches (<=), same-ts tie -> max tiebreak
    assert rows[11] == (101, _ts("2024-01-02T00:00:00"))
    # left row before every right row -> null miss
    assert rows[12] == (None, None)
    assert rows[20] == (200, _ts("2024-01-01T00:00:00"))
    # key absent from the right side entirely -> null miss
    assert rows[30] == (None, None)


def test_asof_join_plan_is_one_shuffle_no_join(spark):
    out = asof_join(
        _left(spark),
        _right(spark),
        on=["k"],
        left_time="lt",
        right_time="rt",
        value_cols=["rid"],
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan  # merge via union+window, never a join node
    assert plan.count("Exchange") == 1  # ONE hash shuffle on the key
    assert "Window" in plan


def test_range_join_exactly_once_across_multiday_window(spark):
    # one window spanning three day-buckets; events in each covered day,
    # on the exact start (in), and on the exact end (out: half-open)
    windows = spark.createDataFrame(
        [Row(wid=1, start_ts=_ts("2024-01-01T18:00:00"), end_ts=_ts("2024-01-03T06:00:00"))]
    ).select(
        "wid",
        F.col("start_ts").cast("timestamp_ntz"),
        F.col("end_ts").cast("timestamp_ntz"),
    )
    facts = spark.createDataFrame(
        [
            Row(eid=1, t=_ts("2024-01-01T18:00:00")),  # == start: included
            Row(eid=2, t=_ts("2024-01-02T12:00:00")),  # middle day
            Row(eid=3, t=_ts("2024-01-03T05:59:59")),  # last covered second
            Row(eid=4, t=_ts("2024-01-03T06:00:00")),  # == end: excluded
            Row(eid=5, t=_ts("2024-01-01T17:59:59")),  # before start
        ]
    ).select("eid", F.col("t").cast("timestamp_ntz"))
    got = range_join_buckets(facts, windows, "t").select("eid", "wid").collect()
    assert sorted((r.eid, r.wid) for r in got) == [(1, 1), (2, 1), (3, 1)]


def test_range_join_overlapping_windows_multi_match(spark):
    windows = spark.createDataFrame(
        [
            Row(wid=1, start_ts=_ts("2024-01-01T00:00:00"), end_ts=_ts("2024-01-02T00:00:00")),
            Row(wid=2, start_ts=_ts("2024-01-01T12:00:00"), end_ts=_ts("2024-01-03T00:00:00")),
        ]
    ).select(
        "wid",
        F.col("start_ts").cast("timestamp_ntz"),
        F.col("end_ts").cast("timestamp_ntz"),
    )
    facts = spark.createDataFrame([Row(eid=1, t=_ts("2024-01-01T13:00:00"))]).select(
        "eid", F.col("t").cast("timestamp_ntz")
    )
    got = sorted(
        (r.eid, r.wid)
        for r in range_join_buckets(facts, windows, "t").select("eid", "wid").collect()
    )
    assert got == [(1, 1), (1, 2)]  # inside both overlapping windows


def test_range_join_plan_never_nested_loop(spark):
    df = range_join_campaign_attribution(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan  # bucket equi-join carries the range residual
