"""As-of join — the timeseries-native join the reference lacks (SURVEY §2.7).

For each left row, attach the single right row with the same key and the
greatest right-ts <= left-ts.  Two implementations:

* :func:`asof_join` — declarative: range equi-join on the key with the
  ts inequality, then keep the max right-ts per left row via struct-max
  aggregation.  Fully expressible in ANSI SQL (the oracle contract) and
  executes as a broadcast/shuffled hash join + one keyed aggregate.  Fine
  when the per-key right side is modest (dimension-style histories).
* :func:`asof_join_pandas` — the big-data path: cogroup both sides by key
  and run ``pandas.merge_asof`` per key partition (Arrow-batched,
  sort-merge within key).  Used when both sides are large; equivalent
  output is asserted in tests.
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def _time_ord(col, dtype: str):
    """Monotone BIGINT/numeric image of a time column for struct-ordering
    (timestamps -> epoch micros; numerics pass through)."""
    return F.unix_micros(col) if dtype.startswith("timestamp") else col


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    left_on: str,
    right_on: str,
    by_left: str,
    by_right: str,
    right_cols: Sequence[str],
    tiebreak: str | None = None,
    direction: str = "backward",
    tolerance: float | None = None,
) -> DataFrame:
    """Declarative as-of join, full ``pandas.merge_asof`` direction surface:

    * ``backward`` (default): greatest ``right_ts <= left_ts``;
    * ``forward``: smallest ``right_ts >= left_ts``;
    * ``nearest``: smallest ``|right_ts - left_ts|``, ties preferring the
      backward (at-or-before) side — then ``tiebreak`` in every mode
      (greatest wins) for equal-distance same-side matches.

    ``tolerance`` bounds the match window (seconds for timestamp keys,
    same units as the column for numeric keys).  For ``nearest`` it is
    also the SCALE lever: with a tolerance the join carries a range
    predicate per side, without one each left row scans its whole key
    group — fine for dimension-style histories, quadratic for dense
    per-key rights (prefer a tolerance there).

    Cardinality contract: left rows must be UNIQUE (some column set —
    typically an id — distinguishes every row).  The oracle twin
    (:func:`asof_join_sql`) groups by all left columns, so exact
    duplicate left rows collapse into one output row there; this
    implementation (like :func:`asof_join_pandas`) preserves each left
    row.  The paths agree only under unique-left input; the equivalence
    tests and the registry queries (unique event_id) hold it.

    Implementation (round 14, guide §2.4/§3.3): union both sides into
    one per-key ordered stream and pick the match with a running
    ``last(right-struct, ignorenulls)`` window — one exchange + sort,
    O(n log n) per key.  The previous range-join + struct-argmax form
    materialized every (left row x qualifying right row) pair before
    aggregating them back down: quadratic per key for unbounded
    directions, and measurably slower at sf0.1 (interleaved A/B:
    backward 1.54 -> 1.03 s median, 5/5 trials; forward a wash locally
    but linear instead of quadratic per key at scale).  Pick semantics
    are the argmax's, replicated in the sort order: match-ts preference
    first, then ``tiebreak`` (greatest wins), then the right payload
    columns lexicographically (greatest wins) — so results are
    identical, including deterministic duplicate handling (verified by
    full-collect comparison on all three registry queries, 100k rows
    each, plus the oracle hash).  ``tolerance`` is applied to the
    picked row after the fact, which is equivalent because the pick is
    monotone in match distance: if the best match violates the bound,
    every other candidate does too.  EXCEPTION: ``nearest`` WITH a
    tolerance keeps the bounded range-join argmax — there the tolerance
    already caps the per-side candidate set, and the window form's two
    ordered passes measured slower (1.12 vs 1.59 s median, old faster
    in 4/5 interleaved trials).
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"unknown direction {direction!r}")
    if direction == "nearest" and tolerance is not None:
        return _asof_join_argmax(
            left, right, left_on=left_on, right_on=right_on,
            by_left=by_left, by_right=by_right, right_cols=right_cols,
            tiebreak=tiebreak, direction=direction, tolerance=tolerance,
        )
    from pyspark.sql import Window

    lcols = left.columns
    ldt = dict(left.dtypes)[left_on]
    rdt = dict(right.dtypes)[right_on]
    # the tiebreak column must survive the right-side projection even
    # when the caller does not want it as an output column
    proj = list(right_cols) + (
        [tiebreak] if tiebreak and tiebreak not in right_cols else []
    )
    tb_field = tiebreak if tiebreak else None
    r = right.select(
        F.col(by_right).alias("__k"),
        _time_ord(F.col(right_on), rdt).alias("__ord"),
        F.lit(0).alias("__m"),
        F.struct(
            _time_ord(F.col(right_on), rdt).alias("__ro"),
            *[F.col(c).alias(f"__v_{c}") for c in proj],
        ).alias("__rs"),
    ).filter(F.col("__k").isNotNull() & F.col("__ord").isNotNull())
    l = left.select(
        *lcols,
        F.col(by_left).alias("__k"),
        _time_ord(F.col(left_on), ldt).alias("__ord"),
        F.lit(1).alias("__m"),
    )
    ev = l.unionByName(r, allowMissingColumns=True)
    tol = None
    if tolerance is not None:
        tol = (
            F.lit(float(tolerance) * 1e6)
            if ldt.startswith("timestamp")
            else F.lit(tolerance)
        )
    # sort order among right rows replicates the argmax struct
    # (t, b, *right_cols): ascending here + "last row wins" = greatest
    tb_ord = (
        [F.col(f"__rs.__v_{tb_field}").asc()] if tb_field else []
    )
    payload_ord = [F.col(f"__rs.__v_{c}").asc() for c in right_cols]

    def running_pick(ord_col) -> "F.Column":
        w = (
            Window.partitionBy("__k")
            .orderBy(ord_col, F.col("__m").asc(), *tb_ord, *payload_ord)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        return F.last("__rs", ignorenulls=True).over(w)

    lo = F.col("__ord")

    def within(pick, bound) -> "F.Column":
        # a null time key on either side matches nothing (the oracle's
        # range predicate is never true on null)
        ok = pick.isNotNull() & lo.isNotNull() & pick["__ro"].isNotNull()
        return ok & (F.lit(True) if tol is None else bound)

    if direction == "backward":
        pick = running_pick(F.col("__ord").asc())
        valid = within(pick, (lo - pick["__ro"]) <= tol)
    elif direction == "forward":
        pick = running_pick(F.col("__ord").desc())
        valid = within(pick, (pick["__ro"] - lo) <= tol)
    else:  # nearest: both one-sided picks, then the argmax's combine —
        # smaller |distance| wins, ties prefer the at-or-before side
        pb = running_pick(F.col("__ord").asc())
        pf = running_pick(F.col("__ord").desc())
        db = lo - pb["__ro"]
        df_ = pf["__ro"] - lo
        vb = within(pb, db <= tol)
        vf = within(pf, df_ <= tol)
        choose_b = vb & (~F.coalesce(vf, F.lit(False)) | (db <= df_))
        pick = F.when(choose_b, pb).when(vf, pf)
        valid = F.coalesce(choose_b | vf, F.lit(False))
    out = (
        ev.withColumn("__pick", pick)
        .withColumn("__ok", valid)
        .filter(F.col("__m") == 1)
        .select(*lcols, "__pick", "__ok")
    )
    for c in right_cols:
        out = out.withColumn(
            c, F.when(F.col("__ok"), F.col(f"__pick.__v_{c}"))
        )
    return out.drop("__pick", "__ok")


def _asof_join_argmax(
    left: DataFrame,
    right: DataFrame,
    *,
    left_on: str,
    right_on: str,
    by_left: str,
    by_right: str,
    right_cols: Sequence[str],
    tiebreak: str | None = None,
    direction: str = "backward",
    tolerance: float | None = None,
) -> DataFrame:
    """Range-join + struct-argmax form (the oracle twin's construction).

    Kept for ``nearest`` with a tolerance, where the range predicate
    bounds the per-side candidate set and this shape beats the ordered
    window (round-14 A/B in :func:`asof_join`).  Collapses exact
    duplicate left rows (the groupBy is over all left columns) — same
    unique-left contract."""
    lcols = left.columns
    ldt = dict(left.dtypes)[left_on]
    rdt = dict(right.dtypes)[right_on]
    proj = list(right_cols) + (
        [tiebreak] if tiebreak and tiebreak not in right_cols else []
    )
    r = right.select(
        F.col(by_right).alias("__k"),
        F.col(right_on).alias("__rts"),
        *[F.col(c).alias(f"__r_{c}") for c in proj],
    )
    lo = _time_ord(left[left_on], ldt)
    ro = _time_ord(r["__rts"], rdt)
    tol = None
    if tolerance is not None:
        tol = F.lit(float(tolerance) * 1e6) if ldt.startswith("timestamp") else F.lit(tolerance)
    cond = left[by_left] == r["__k"]
    pref = F.lit(0)
    if direction == "backward":
        cond = cond & (ro <= lo)
        if tol is not None:
            cond = cond & (ro >= lo - tol)
        t_ord = ro
    elif direction == "forward":
        cond = cond & (ro >= lo)
        if tol is not None:
            cond = cond & (ro <= lo + tol)
        t_ord = -ro
    else:  # nearest
        if tol is not None:
            cond = cond & (ro >= lo - tol) & (ro <= lo + tol)
        t_ord = -F.abs(ro - lo)
        pref = F.when(ro <= lo, F.lit(1)).otherwise(F.lit(0))
    j = left.join(r, on=cond, how="left")
    tb = F.col(f"__r_{tiebreak}") if tiebreak else F.lit(0)
    picked = F.max(
        F.struct(
            t_ord.alias("t"),
            pref.alias("p"),
            tb.alias("b"),
            *[F.col(f"__r_{c}").alias(c) for c in right_cols],
        )
    )
    out = j.groupBy(*[F.col(c) for c in lcols]).agg(picked.alias("__m"))
    for c in right_cols:
        out = out.withColumn(c, F.col("__m")[c])
    return out.drop("__m")


def asof_join_sql(
    left: str,
    right: str,
    *,
    left_on: str,
    right_on: str,
    by_left: str,
    by_right: str,
    left_cols: Sequence[str],
    right_cols: Sequence[str],
    tiebreak: str | None = None,
    direction: str = "backward",
    tolerance: float | None = None,
    time_kind: str = "timestamp",
) -> str:
    """DuckDB twin of :func:`asof_join` (same argmax-by-struct
    construction and the same epoch-micros ordering image; ``time_kind``
    says whether the on-columns are timestamps or plain numerics)."""
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"unknown direction {direction!r}")
    lsel = ", ".join(f"l.{c}" for c in left_cols)
    lgrp = ", ".join(f"l.{c}" for c in left_cols)
    tb = f"r.{tiebreak}" if tiebreak else "0"

    def ordc(side_col: str) -> str:
        return f"epoch_us({side_col})" if time_kind == "timestamp" else side_col

    lo, ro = ordc(f"l.{left_on}"), ordc(f"r.{right_on}")
    tol = None
    if tolerance is not None:
        tol = repr(float(tolerance) * 1e6) if time_kind == "timestamp" else repr(tolerance)
    cond = f"l.{by_left} = r.{by_right}"
    pref = "0"
    if direction == "backward":
        cond += f" AND {ro} <= {lo}"
        if tol is not None:
            cond += f" AND {ro} >= {lo} - {tol}"
        t_ord = ro
    elif direction == "forward":
        cond += f" AND {ro} >= {lo}"
        if tol is not None:
            cond += f" AND {ro} <= {lo} + {tol}"
        t_ord = f"-{ro}"
    else:
        if tol is not None:
            cond += f" AND {ro} >= {lo} - {tol} AND {ro} <= {lo} + {tol}"
        else:  # no range predicate to reject a null time key
            cond += f" AND {ro} IS NOT NULL AND {lo} IS NOT NULL"
        t_ord = f"-abs({ro} - {lo})"
        pref = f"CASE WHEN {ro} <= {lo} THEN 1 ELSE 0 END"
    pack = ", ".join(f"{c} := r.{c}" for c in right_cols)
    unpack = ", ".join(
        f"(max(struct_pack(t := {t_ord}, p := {pref}, b := {tb}, {pack}))).{c} AS {c}"
        for c in right_cols
    )
    return f"""
SELECT {lsel}, {unpack}
FROM {left} l LEFT JOIN {right} r
  ON {cond}
GROUP BY {lgrp}
"""


def asof_join_pandas(
    left: DataFrame,
    right: DataFrame,
    *,
    left_on: str,
    right_on: str,
    by_left: str,
    by_right: str,
    right_cols: Sequence[str],
    direction: str = "backward",
    tolerance: float | None = None,
) -> DataFrame:
    """Scale path: cogrouped ``merge_asof`` per key (sort-merge within key).

    ``right_cols`` must be value columns proper: the join/time keys are
    consumed internally (``right_on``/``by_right`` are renamed away
    before the merge, so requesting them would declare schema fields the
    merged frame cannot supply) and a name shared with a left column
    would be suffixed ``_x``/``_y`` by pandas and mismatch the declared
    schema — both are rejected loudly here; alias on the right frame
    first.  (The declarative :func:`asof_join` twin handles both shapes.)
    """
    bad = set(right_cols) & {right_on, by_right}
    if bad:
        raise ValueError(
            f"right_cols may not include the join keys {sorted(bad)}; "
            "alias them on the right frame first"
        )
    clash = set(right_cols) & set(left.columns)
    if clash:
        raise ValueError(
            f"right_cols collide with left columns {sorted(clash)}; "
            "alias them on the right frame first"
        )
    out_schema = StructType(list(left.schema.fields))
    for c in right_cols:
        out_schema = out_schema.add(right.schema[c])

    r_keep = [by_right, right_on, *[c for c in right_cols if c not in (by_right, right_on)]]
    is_ts = dict(left.dtypes)[left_on].startswith("timestamp")
    tol = None
    if tolerance is not None:
        tol = pd.Timedelta(seconds=float(tolerance)) if is_ts else tolerance

    def merge(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        lpdf = lpdf.sort_values(left_on, kind="mergesort")
        rpdf = rpdf[[c for c in r_keep]].sort_values(right_on, kind="mergesort")
        merged = pd.merge_asof(
            lpdf,
            rpdf.rename(columns={right_on: "__rts", by_right: "__k"}),
            left_on=left_on,
            right_on="__rts",
            direction=direction,
            tolerance=tol,
        )
        keep = [c for c in merged.columns if c not in ("__rts", "__k")]
        return merged[keep]

    return (
        left.groupBy(by_left)
        .cogroup(right.groupBy(by_right))
        .applyInPandas(merge, schema=out_schema)
    )
