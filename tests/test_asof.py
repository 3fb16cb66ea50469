"""As-of join: declarative argmax form vs pandas merge_asof scale path.

The two implementations must agree row-for-row; the declarative form is
the oracle contract, the cogrouped merge_asof is the big-data path.
"""

from __future__ import annotations

import datetime as dt

from trend_o_meter_spark.operators.asof import asof_join, asof_join_pandas

T0 = dt.datetime(2024, 1, 1)


def _dfs(spark):
    left = spark.createDataFrame(
        [
            (1, T0 + dt.timedelta(hours=5), 100),
            (2, T0 + dt.timedelta(hours=1), 100),
            (3, T0 + dt.timedelta(hours=9), 200),
            (4, T0 - dt.timedelta(hours=1), 100),  # before all right rows -> null
        ],
        "eid long, ts timestamp, k long",
    )
    right = spark.createDataFrame(
        [
            (10, T0, 100, 1.0),
            (11, T0 + dt.timedelta(hours=4), 100, 2.0),
            (12, T0 + dt.timedelta(hours=6), 100, 3.0),
            (13, T0 + dt.timedelta(hours=2), 200, 4.0),
        ],
        "rid long, rts timestamp, rk long, payload double",
    )
    return left, right


def test_asof_backward_semantics(spark):
    left, right = _dfs(spark)
    out = asof_join(
        left, right, left_on="ts", right_on="rts", by_left="k", by_right="rk",
        right_cols=("rid", "payload"), tiebreak="rid",
    )
    got = {r["eid"]: (r["rid"], r["payload"]) for r in out.collect()}
    assert got[1] == (11, 2.0)   # latest rts <= 5h is 4h
    assert got[2] == (10, 1.0)
    assert got[3] == (13, 4.0)
    assert got[4] == (None, None)


def test_asof_pandas_path_matches_declarative(spark):
    left, right = _dfs(spark)
    a = asof_join(
        left, right, left_on="ts", right_on="rts", by_left="k", by_right="rk",
        right_cols=("rid", "payload"), tiebreak="rid",
    )
    b = asof_join_pandas(
        left, right, left_on="ts", right_on="rts", by_left="k", by_right="rk",
        right_cols=("rid", "payload"),
    )
    ka = sorted([tuple(r) for r in a.select("eid", "rid", "payload").collect()])
    kb = sorted([tuple(r) for r in b.select("eid", "rid", "payload").collect()])
    assert ka == kb


def test_interval_join_contains_and_plans_equi(spark):
    """Chunked interval join: exact containment semantics (inclusive
    edges), one match per containing interval, and an equi-join plan —
    never BroadcastNestedLoop — even for intervals spanning chunks."""
    from datetime import datetime

    from trend_o_meter_spark.operators.interval import interval_join

    t = lambda h, m=0: datetime(2024, 1, 1, h, m)
    points = spark.createDataFrame(
        [(1, "u1", t(1)), (2, "u1", t(5)), (3, "u1", t(23, 59)), (4, "u2", t(1))],
        "event_id long, user_id string, ts timestamp",
    )
    intervals = spark.createDataFrame(
        [
            ("u1", t(0), t(2), "a"),            # catches 1
            ("u1", t(5), t(6), "b"),            # catches 2 (inclusive start)
            ("u1", t(23), datetime(2024, 1, 2, 1), "c"),  # spans a chunk edge; catches 3
            ("u2", t(0), t(0, 30), "d"),        # u2's point at 01:00 NOT contained
        ],
        "user_id string, session_start timestamp, session_end timestamp, tag string",
    )
    out = interval_join(points, intervals, keys=("user_id",), chunk_seconds=3600)
    rows = {(r["event_id"], r["tag"]) for r in out.collect()}
    assert rows == {(1, "a"), (2, "b"), (3, "c")}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_asof_forward_semantics(spark):
    left, right = _dfs(spark)
    out = asof_join(
        left, right, left_on="ts", right_on="rts", by_left="k", by_right="rk",
        right_cols=("rid", "payload"), tiebreak="rid", direction="forward",
    )
    got = {r["eid"]: (r["rid"], r["payload"]) for r in out.collect()}
    assert got[1] == (12, 3.0)   # first rts >= 5h is 6h
    assert got[2] == (11, 2.0)   # first rts >= 1h is 4h
    assert got[3] == (None, None)  # nothing after 9h for k=200
    assert got[4] == (10, 1.0)   # first rts >= -1h is 0h


def test_asof_nearest_semantics_and_tie_prefers_backward(spark):
    import datetime as dt

    left, right = _dfs(spark)
    out = asof_join(
        left, right, left_on="ts", right_on="rts", by_left="k", by_right="rk",
        right_cols=("rid", "payload"), tiebreak="rid", direction="nearest",
    )
    got = {r["eid"]: r["rid"] for r in out.collect()}
    assert got[1] == 11  # 4h (dist 1h) beats 6h (dist 1h)? equal -> backward wins
    assert got[2] == 10  # 0h (dist 1h) vs 4h (dist 3h)
    assert got[3] == 13
    assert got[4] == 10  # 0h is nearest even though it is after
    # tolerance bounds the window: 30 minutes leaves eid=1 with no match
    tight = asof_join(
        left, right, left_on="ts", right_on="rts", by_left="k", by_right="rk",
        right_cols=("rid", "payload"), tiebreak="rid", direction="nearest",
        tolerance=1800,
    )
    got_t = {r["eid"]: r["rid"] for r in tight.collect()}
    assert got_t[1] is None


def test_asof_duplicate_right_ts_picks_greatest_tiebreak(spark):
    """Round 14: the ordered-window form must replicate the argmax's
    deterministic duplicate handling — among right rows sharing the
    match timestamp, greatest tiebreak wins, in every direction."""
    left = spark.createDataFrame(
        [(1, T0 + dt.timedelta(hours=5), 100)], "eid long, ts timestamp, k long"
    )
    right = spark.createDataFrame(
        [
            (20, T0 + dt.timedelta(hours=4), 100, 1.0),
            (21, T0 + dt.timedelta(hours=4), 100, 2.0),  # same rts, bigger rid
            (30, T0 + dt.timedelta(hours=6), 100, 3.0),
            (31, T0 + dt.timedelta(hours=6), 100, 4.0),
        ],
        "rid long, rts timestamp, rk long, payload double",
    )
    for direction, want in [("backward", 21), ("forward", 31), ("nearest", 21)]:
        out = asof_join(
            left, right, left_on="ts", right_on="rts", by_left="k", by_right="rk",
            right_cols=("rid", "payload"), tiebreak="rid", direction=direction,
        )
        assert out.collect()[0]["rid"] == want, direction
    # nearest + tolerance dispatches to the bounded argmax path — same pick
    out = asof_join(
        left, right, left_on="ts", right_on="rts", by_left="k", by_right="rk",
        right_cols=("rid", "payload"), tiebreak="rid", direction="nearest",
        tolerance=2 * 3600.0,
    )
    assert out.collect()[0]["rid"] == 21


def test_asof_pandas_matches_declarative_all_directions(spark):
    left, right = _dfs(spark)
    for direction, tol in [("forward", None), ("nearest", None),
                           ("backward", 3 * 3600.0), ("nearest", 3600.0)]:
        a = asof_join(
            left, right, left_on="ts", right_on="rts", by_left="k", by_right="rk",
            right_cols=("rid", "payload"), tiebreak="rid",
            direction=direction, tolerance=tol,
        )
        b = asof_join_pandas(
            left, right, left_on="ts", right_on="rts", by_left="k", by_right="rk",
            right_cols=("rid", "payload"), direction=direction, tolerance=tol,
        )
        sa = sorted(map(tuple, a.collect()))
        sb = sorted(map(tuple, b.collect()))
        assert sa == sb, (direction, tol, sa, sb)


def test_asof_null_time_keys_match_nothing_like_the_oracle(spark):
    """A right row with a null ``right_on`` is never a match, and a left
    row with a null ``left_on`` matches nothing, in every direction —
    the SQL oracle's range predicate is never true on null (and its
    unbounded ``nearest`` form guards null keys explicitly)."""
    import duckdb

    from trend_o_meter_spark.operators.asof import asof_join_sql

    left = spark.createDataFrame(
        [
            (1, T0 + dt.timedelta(hours=5), 100),
            (2, None, 100),  # null left time key
            (3, T0 - dt.timedelta(hours=1), 200),  # only a null-ts right row before it
        ],
        "eid long, ts timestamp, k long",
    )
    right = spark.createDataFrame(
        [
            (10, T0 + dt.timedelta(hours=4), 100, 1.0),
            (11, None, 100, 9.0),  # null right time key
            (12, None, 200, 8.0),
        ],
        "rid long, rts timestamp, rk long, payload double",
    )
    con = duckdb.connect()
    con.register("l", left.toPandas())
    con.register("r", right.toPandas())
    for direction, tol in [("backward", None), ("forward", None), ("nearest", None),
                           ("backward", 3 * 3600.0), ("nearest", 3 * 3600.0)]:
        got = {
            r["eid"]: r["rid"]
            for r in asof_join(
                left, right, left_on="ts", right_on="rts", by_left="k",
                by_right="rk", right_cols=("rid", "payload"), tiebreak="rid",
                direction=direction, tolerance=tol,
            ).collect()
        }
        sql = asof_join_sql(
            "l", "r", left_on="ts", right_on="rts", by_left="k", by_right="rk",
            left_cols=("eid", "ts", "k"), right_cols=("rid", "payload"),
            tiebreak="rid", direction=direction, tolerance=tol,
        )
        want = {eid: rid for eid, rid in con.execute(f"SELECT eid, rid FROM ({sql})").fetchall()}
        assert got == want, (direction, tol, got, want)
        assert got[2] is None and got[3] is None, (direction, got)
    assert want[1] == 10
