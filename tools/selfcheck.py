"""Local mirror of the driver's correctness gate.

Runs every registry query on Spark AND its DuckDB oracle on the same
parquet tables, then compares row count, sorted column names, and an
order-insensitive value hash (rows canonicalized and sorted).  Use while
iterating:

    python tools/selfcheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# tmpfs scratch opt-in (round 14): correctness runs shuffle the same
# bytes the bench does; on the sandbox's throttled disk a stock run is
# I/O-bound, not engine-bound
os.environ.setdefault("SPARK_GRAFT_LOCAL_SCRATCH", "1")

import duckdb

from trend_o_meter_spark.catalog import TABLES
from trend_o_meter_spark.session import get_spark
from trend_o_meter_spark.workload import registry


def canon(val) -> str:
    import datetime
    import math

    if val is None:
        return "NULL"
    if isinstance(val, bool):
        return "T" if val else "F"
    if isinstance(val, float):
        if math.isnan(val):
            return "NaN"
        return repr(val)
    if isinstance(val, datetime.datetime):
        return val.strftime("%Y-%m-%d %H:%M:%S.%f")
    return str(val)


def fingerprint(rows, colnames) -> tuple[int, str, list[str]]:
    """(row count, order-insensitive hash, ALL canonical lines) — the
    lines are returned so the FAIL diff reuses the exact canonicalization
    the hash was computed from (a re-implementation could drift)."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    import hashlib

    h = hashlib.md5("\n".join(lines).encode()).hexdigest()
    return len(rows), h, lines


def main() -> int:
    # Pin the PYTHON-side timezone: collect() converts TimestampType via
    # the OS-local zone (spark.sql.session.timeZone does not govern it),
    # so on a non-UTC host every timestamp column would false-FAIL
    # against the oracle's naive UTC values.
    import os as _os
    import time as _t

    _os.environ["TZ"] = "UTC"
    if hasattr(_t, "tzset"):
        _t.tzset()
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and "/" in sys.argv[1] else "/root/testdata/sf0.01"
    only = set(a for a in sys.argv[1:] if "/" not in a)

    spark = get_spark("selfcheck", master="local[8]")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    n_pass = n_fail = n_nosql = 0
    for spec in registry():
        if only and spec.name not in only:
            continue
        t0 = time.time()
        try:
            sdf = spec.spark(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception:
            print(f"FAIL {spec.name}: SPARK ERROR")
            traceback.print_exc(limit=4)
            n_fail += 1
            continue
        if spec.oracle is None:
            print(f"ROWS-ONLY {spec.name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
            n_nosql += 1
            continue
        try:
            res = con.sql(spec.oracle)
            ocols = res.columns
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL {spec.name}: ORACLE ERROR {e}")
            n_fail += 1
            continue
        sc, sh, s_lines = fingerprint(srows, scols)
        oc, oh, o_lines = fingerprint(orows, ocols)
        ok_cols = sorted(scols) == sorted(ocols)
        ok = sc == oc and sh == oh and ok_cols
        if ok:
            print(f"PASS {spec.name}: {sc} rows ({time.time()-t0:.1f}s)")
            n_pass += 1
        else:
            print(
                f"FAIL {spec.name}: spark={sc} rows cols={sorted(scols)} hash={sh} | "
                f"oracle={oc} rows cols={sorted(ocols)} hash={oh}"
            )
            if sc and oc and ok_cols:
                sset, oset = set(s_lines), set(o_lines)
                for x in list(sset - oset)[:3]:
                    print(f"  spark-only: {x[:200]}")
                for x in list(oset - sset)[:3]:
                    print(f"  oracle-only: {x[:200]}")
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_nosql} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
