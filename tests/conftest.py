from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Opt the test session into tmpfs scratch (session.scratch_dir): the
# sandbox disk sustains ~10 MB/s fsync'd writes, which turns every
# shuffle into an I/O stall (round-13 pytest: 55 min vs 24-29).  Tests
# never shuffle more than a few hundred MB, so the 8 GiB headroom check
# inside scratch_dir() is ample.
os.environ.setdefault("SPARK_GRAFT_LOCAL_SCRATCH", "1")

from trend_o_meter_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]")
    yield s


@pytest.fixture(scope="session")
def events_df(spark):
    from trend_o_meter_spark.catalog import table

    return table(spark, "events", "/root/testdata/sf0.001").select(
        "event_id", "ts", "event_type", "value"
    )
