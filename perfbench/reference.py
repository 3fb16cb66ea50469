"""Plain-Python recomputations the benchmark checks the program against,
and the mutation self-test that shows each check can fail.

Timestamps are integer epoch microseconds throughout.  The arithmetic
mirrors the documented operator contracts (not their code): the
anchored downsample keeps a sample iff it lies more than ``gap`` from
the previously kept one, the fixed-grid downsample keeps the earliest
sample per epoch-aligned ``gap`` cell, retention keeps samples within
``days`` of the per-metric newest one, and the day bins are the
disjoint intervals between ``anchor - b days`` edges.
"""

from __future__ import annotations

import calendar
import datetime
import hashlib
import math
from collections import defaultdict

DAY_BINS = (1, 3, 5, 7)
MIN_DATA_HOURS = 18
RETENTION_DAYS = 7.0
GAP_US = 60 * 1_000_000


def ts_us(dt: datetime.datetime) -> int:
    """Naive UTC datetime (as ``collect`` returns under TZ=UTC) -> micros."""
    return calendar.timegm(dt.timetuple()) * 1_000_000 + dt.microsecond


def anchored_keep(batches: list[list[tuple[str, int, float]]]) -> list[tuple[str, int, float]]:
    """Stream-side anchored downsample over micro-batches of
    ``(metric, ts_us, value)``: the anchor carries across batches."""
    mark: dict[str, int] = {}
    kept = []
    for batch in batches:
        by_metric: dict[str, list] = defaultdict(list)
        for r in batch:
            by_metric[r[0]].append(r)
        for m, rows in by_metric.items():
            for r in sorted(rows, key=lambda r: r[1]):
                if m not in mark or abs(r[1] - mark[m]) > GAP_US:
                    kept.append(r)
                    mark[m] = r[1]
    return kept


def fixed_grid_keep(rows: list[tuple[str, int, float]]) -> list[tuple[str, int, float]]:
    """Earliest sample per (metric, floor(ts / gap)) cell."""
    best: dict[tuple[str, int], tuple[str, int, float]] = {}
    for r in rows:
        key = (r[0], math.floor(r[1] / GAP_US))
        if key not in best or r[1] < best[key][1]:
            best[key] = r
    return list(best.values())


def retain(rows: list[tuple[str, int, float]], days: float = RETENTION_DAYS):
    horizon = int(days * 86400 * 1_000_000)
    anchor: dict[str, int] = {}
    for m, t, _ in rows:
        anchor[m] = max(anchor.get(m, t), t)
    return [r for r in rows if anchor[r[0]] - r[1] <= horizon]


def day_bins(rows: list[tuple[str, int, float]]) -> list[tuple]:
    """Per (metric, bin): (metric, bin, n, min_val, min_ts, max_val,
    max_ts, first_ts, last_ts, is_complete); equal values pick the
    earliest ts for the minimum and the latest for the maximum."""
    anchor: dict[str, int] = {}
    for m, t, _ in rows:
        anchor[m] = max(anchor.get(m, t), t)
    groups: dict[tuple[str, str], list] = defaultdict(list)
    for m, t, v in rows:
        age = (anchor[m] - t) / 1_000_000.0
        label = next((str(b) for b in sorted(DAY_BINS) if age <= float(b * 86400)), "rest")
        groups[(m, label)].append((v, t))
    out = []
    for (m, label), vt in groups.items():
        lo, hi = min(vt), max(vt)
        first, last = min(t for _, t in vt), max(t for _, t in vt)
        complete = math.ceil((last - first) / 3_600_000_000.0) > MIN_DATA_HOURS
        out.append((m, label, len(vt), lo[0], lo[1], hi[0], hi[1], first, last, complete))
    return sorted(out)


def extents_rows(rows) -> list[tuple]:
    """``day_binned_extremes`` Rows -> the tuples :func:`day_bins` makes."""
    return sorted(
        (
            r["metric"], r["day_bin"], r["n_samples"], r["min_val"], ts_us(r["min_ts"]),
            r["max_val"], ts_us(r["max_ts"]), ts_us(r["first_ts"]), ts_us(r["last_ts"]),
            r["is_complete"],
        )
        for r in rows
    )


# -- order-insensitive result hash (registry queries vs their oracle) --------


def canon(val) -> str:
    if val is None:
        return "NULL"
    if isinstance(val, bool):
        return "T" if val else "F"
    if isinstance(val, float):
        return "NaN" if math.isnan(val) else repr(val)
    if isinstance(val, datetime.datetime):
        return val.strftime("%Y-%m-%d %H:%M:%S.%f")
    return str(val)


def fingerprint(rows, columns) -> tuple[int, tuple, str]:
    """(row count, sorted column names, md5 of the sorted canonical rows)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    return len(rows), tuple(sorted(columns)), hashlib.md5("\n".join(lines).encode()).hexdigest()


# -- mutation self-test ------------------------------------------------------


def _bump(v):
    if isinstance(v, bool):
        return not v
    if isinstance(v, (int, float)):
        return v + 1
    if isinstance(v, datetime.datetime):
        return v + datetime.timedelta(microseconds=1)
    return f"{v}~"


def mutants(rows: list[tuple]) -> list[list[tuple]]:
    """Two perturbed copies of ``rows``: one value changed, one row dropped.
    An empty output has neither, so the self-test fails on it."""
    if not rows:
        return []
    first = list(rows[0])
    i = next((k for k, v in enumerate(first) if v is not None), 0)
    first[i] = _bump(first[i])
    return [[tuple(first)] + list(rows[1:]), list(rows[:-1])]


def check_detects(check, rows: list[tuple]) -> bool:
    """True when ``check`` rejects both perturbations of ``rows``."""
    muts = mutants(rows)
    return len(muts) == 2 and not any(check(m) for m in muts)
