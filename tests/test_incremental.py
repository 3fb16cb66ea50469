"""The per-batch contract every live twin inherits from
``statestore.incremental``, checked by calling each twin's
``foreachBatch`` callable directly on static DataFrames (no streaming
query):

* an all-empty first batch writes no state directory and emits nothing;
* replaying a ``batch_id`` emits the same result as its first attempt;
* a compaction at ``compact_every`` leaves the emitted result unchanged.
"""

from __future__ import annotations

import inspect
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql import functions as F

from trend_o_meter_spark.streaming import pipeline as pl

BASE = 1_710_000_000  # 2024-03-09, epoch seconds
SCHEMA = (
    "epoch long, metric string, value double, user_id string, event_type string, "
    "event_id long, doc_id long, text string, source string, n_chars long, lang string"
)
SCHEMA_COLS = [c.split()[0] for c in SCHEMA.split(", ")][1:]
EVENT_TYPES = ("view", "click", "purchase")


def _rows(b: int) -> list[tuple]:
    """Batch ``b``'s rows: in timestamp, event-id and doc-id order
    across batches, as the in-order twins (funnel, attribution,
    novelty, url_dedup, interarrival) assume."""
    out = []
    for i in range(8):
        seq = 100 * b + i
        words = " ".join(f"w{(seq * 3 + k) % 7}" for k in range(5))
        out.append((
            BASE + 86400 * b + 1800 * i + 7 * (i % 3),
            ("cpu", "mem")[i % 2],
            float((seq * 7) % 11) + 0.25 * b,
            f"u{i % 3}",
            EVENT_TYPES[(i // 2 + b) % 3],
            seq,
            seq,
            words,
            ("web", "news")[i % 2],
            len(words),
            ("en", "de", "fr")[i % 3],
        ))
    return out


def _df(spark, rows):
    # from pandas (Arrow): a local relation, so a batch's every action
    # skips the Python workers a plain list of tuples would need
    frame = pd.DataFrame(rows, columns=["epoch", *SCHEMA_COLS])
    return spark.createDataFrame(frame, SCHEMA).select(
        F.timestamp_seconds("epoch").alias("ts"), *SCHEMA_COLS
    )


# twin name -> factory(spark, **common) returning the foreachBatch callable
TWINS = {
    "day_bins": lambda spark, **kw: pl.stream_day_bins(
        spark.createDataFrame([], "metric string, ts timestamp, value double"), **kw
    )[1],
    "trending": lambda spark, **kw: pl.stream_trending(**kw),
    "cms": lambda spark, **kw: pl.stream_cms(**kw),
    "hll_rollup": lambda spark, **kw: pl.stream_hll_rollup(**kw),
    "histogram": lambda spark, **kw: pl.stream_histogram(**kw),
    "priority_sample": lambda spark, **kw: pl.stream_priority_sample(k=3, **kw),
    "tdigest": lambda spark, **kw: pl.stream_tdigest(**kw),
    "moments": lambda spark, **kw: pl.stream_moments(**kw),
    "kmv": lambda spark, **kw: pl.stream_kmv(**kw),
    "bloom": lambda spark, **kw: pl.stream_bloom(**kw),
    "seasonal_profile": lambda spark, **kw: pl.stream_seasonal_profile(**kw),
    # threshold 0 flags every row off the median: a non-empty report
    "mad": lambda spark, **kw: pl.stream_mad(z_threshold=0.0, **kw),
    "theil_sen": lambda spark, **kw: pl.stream_theil_sen(bucket_seconds=3600, **kw),
    "psi": lambda spark, **kw: pl.stream_psi(ref_counts={0: 5, 32: 2}, bin_width=4, **kw),
    "trend_slope": lambda spark, **kw: pl.stream_trend_slope(bucket_seconds=3600, **kw),
    "metric_correlation": lambda spark, **kw: pl.stream_metric_correlation(**kw),
    "label_balance": lambda spark, **kw: pl.stream_label_balance(**kw),
    "ks": lambda spark, **kw: pl.stream_ks(ref_counts={0: 3, 5: 4}, **kw),
    "funnel": lambda spark, **kw: pl.stream_funnel(steps=EVENT_TYPES, **kw),
    "dau_mau": lambda spark, **kw: pl.stream_dau_mau(**kw),
    "assoc_rules": lambda spark, **kw: pl.stream_assoc_rules(
        window_seconds=86400, min_pair_count=1, **kw
    ),
    "interarrival": lambda spark, **kw: pl.stream_interarrival(**kw),
    "cohort_retention": lambda spark, **kw: pl.stream_cohort_retention(**kw),
    "ab_lift": lambda spark, **kw: pl.stream_ab_lift(**kw),
    "event_transitions": lambda spark, **kw: pl.stream_event_transitions(
        tiebreak=("event_id",), **kw
    ),
    "rfm": lambda spark, **kw: pl.stream_rfm(**kw),
    "novelty": lambda spark, **kw: pl.stream_novelty(**kw),
    "attribution": lambda spark, **kw: pl.stream_attribution(**kw),
    "url_dedup": lambda spark, **kw: pl.stream_url_dedup(**kw),
}


def test_contract_covers_every_twin():
    twins = {
        name[len("stream_"):]
        for name, fn in inspect.getmembers(pl, inspect.isfunction)
        if name.startswith("stream_") and "state_path" in inspect.signature(fn).parameters
    }
    assert twins == set(TWINS)


def _contract_run(spark, state: Path, name: str) -> dict:
    """One twin's contract sequence; returns what it observed."""
    from trend_o_meter_spark.streaming.statestore import _MARKER

    emitted: list = []

    def twin(compact_every: int, on_result=lambda bid, df: emitted.append(df)):
        return TWINS[name](
            spark, state_path=str(state), compact_every=compact_every, on_result=on_result
        )

    def report() -> list:
        # collected before the next batch rewrites the state it reads
        return sorted(emitted.pop().collect(), key=repr)

    seen: dict[str, object] = {}
    per_batch = twin(compact_every=2)
    per_batch(_df(spark, []), 0)
    seen["empty"] = (state.exists(), len(emitted))

    twin(compact_every=0, on_result=None)(_df(spark, _rows(1)), 1)
    plain = twin(compact_every=0)
    b2 = _df(spark, _rows(2))
    plain(b2, 2)
    seen["first"] = report()
    plain(b2, 2)  # at-least-once replay
    seen["replay"] = report()
    per_batch(b2, 2)  # a replay that lands on the compaction boundary
    seen["compacted"] = report()
    seen["marker"] = Path(state, _MARKER).exists()
    return seen


@pytest.fixture(scope="module")
def contract_runs(spark, tmp_path_factory):
    """Every twin's sequence, four at a time: Spark runs jobs from
    concurrent threads side by side, and these jobs are tiny (about 94
    s for all 29 on 4 cores, against 143 s one at a time).  Each twin's
    test reads its own future, so a twin that raises fails only its own
    test."""
    from concurrent.futures import ThreadPoolExecutor

    root = tmp_path_factory.mktemp("twins")
    with ThreadPoolExecutor(4) as pool:
        return {
            name: pool.submit(_contract_run, spark, root / name, name)
            for name in sorted(TWINS)
        }


@pytest.mark.parametrize("name", sorted(TWINS))
def test_twin_per_batch_contract(contract_runs, name):
    seen = contract_runs[name].result()
    assert seen["empty"] == (False, 0)
    assert seen["first"]
    assert seen["replay"] == seen["first"]
    assert seen["marker"]
    assert seen["compacted"] == seen["first"]
