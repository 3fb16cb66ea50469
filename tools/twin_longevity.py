"""Streaming-twin longevity probe (VERDICT r08 task 4, BASELINE.md protocol).

Drives an analytics live twin through hundreds of micro-batches with
compaction firing on its normal cadence and records whether the two
things that could creep actually stay flat:

* state table size (row count + on-disk parquet file count) — must
  plateau at the twin's documented bound (O(users),
  O(types^2 + users), ...), with file count sawtoothing under
  ``compact_every``, never growing O(batches);
* per-batch wall time — the full foreachBatch body INCLUDING the
  report emission (``stream_rfm`` re-scores the merged O(users) state
  every batch, which is exactly the member most likely to creep), with
  the report consumed via count() so nothing is lazily skipped.

Deterministic synthetic stream: a bounded population of users emits
in-timestamp-order events; batch b touches users (b*17 + i) % POP, so
state coverage saturates early and late batches measure steady state.

    python tools/twin_longevity.py rfm 500
    python tools/twin_longevity.py attribution 500
    python tools/twin_longevity.py transitions 500

GROWING-KEY mode (VERDICT r10 task 4 — the 10^9-user regime):

    python tools/twin_longevity.py rfm 300 --grow
    python tools/twin_longevity.py rfm5 300 --grow
    python tools/twin_longevity.py novelty 300 --grow

Every batch introduces ONLY NEW keys (fresh user ids / fresh doc ids
with part-novel vocabulary), so state grows linearly with batches
instead of plateauing.  The signal is no longer flatness but TRACKING:
per-batch wall must grow at most like O(state) (for twins that re-score
the merged state, e.g. plain rfm) or stay flat (for twins whose
per-batch work is O(batch), e.g. rfm5's non-scoring batches, novelty's
batch-gram-keyed join), and compaction output must stay sized to state.
The final line prints wall ratio NEXT TO state ratio so the comparison
is the artifact.

Prints mean per-batch wall over the first/last 50 batches, state rows,
and file count at checkpoints.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from trend_o_meter_spark.session import get_spark
from trend_o_meter_spark.streaming.statestore import PartialStateTable

POP = 2000  # bounded user population: state must plateau at O(POP)
ROWS_PER_BATCH = 200
BASE = 1_700_000_000


def _batch_rows(b: int, grow: bool) -> list[tuple[float, str, str, float, int]]:
    """Deterministic, in-timestamp-order rows for batch ``b``:
    (epoch, user_id, event_type, value, event_id).  In ``grow`` mode
    every batch's users are brand new (key cardinality = b * 200)."""
    rows = []
    for i in range(ROWS_PER_BATCH):
        u = b * ROWS_PER_BATCH + i if grow else (b * 17 + i) % POP
        seq = b * ROWS_PER_BATCH + i
        kind = ("view", "click", "purchase", "signup")[seq % 4]
        rows.append(
            (float(BASE + seq), f"u{u:07d}", kind, float((seq % 97) + 1), seq)
        )
    return rows


def _mkdf(spark, b: int, grow: bool):
    return spark.createDataFrame(
        _batch_rows(b, grow),
        "epoch double, user_id string, event_type string, value double, event_id long",
    ).select(
        F.timestamp_seconds("epoch").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "event_id",
    )


DOCS_PER_BATCH = 50


def _mkdocs(spark, b: int):
    """Growing-vocabulary document batch: fresh in-order doc_ids, each
    doc mixing reused words (the novelty signal) with per-doc novel
    words (state growth: the per-gram min-doc-id table gains rows every
    batch, never plateaus)."""
    rows = []
    for i in range(DOCS_PER_BATCH):
        d = b * DOCS_PER_BATCH + i
        words = [f"w{(d * 7 + k) % 500}" for k in range(12)]
        words += [f"n{d}_{k}" for k in range(6)]  # novel per doc
        rows.append((d, " ".join(words)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def main() -> int:
    import tempfile

    args = [a for a in sys.argv[1:] if a != "--grow"]
    grow = "--grow" in sys.argv[1:]
    name = args[0]
    n_batches = int(args[1]) if len(args) > 1 else 500
    from trend_o_meter_spark.streaming import pipeline as pl

    tmp = tempfile.mkdtemp(prefix=f"twin_longevity_{name}_")
    state_path = f"{tmp}/state"
    sink = {"n": 0}

    def on_result(bid, df):
        sink["n"] = df.count()  # consume the report — nothing stays lazy

    if name == "rfm":
        per_batch = pl.stream_rfm(state_path=state_path, on_result=on_result)
    elif name == "rfm5":
        # snapshot cadence (round 10): re-score every 5th batch only —
        # compare marginal wall vs plain "rfm"
        per_batch = pl.stream_rfm(
            state_path=state_path, score_every=5, on_result=on_result
        )
    elif name == "attribution":
        per_batch = pl.stream_attribution(state_path=state_path, on_result=on_result)
    elif name == "transitions":
        per_batch = pl.stream_event_transitions(
            state_path=state_path, on_result=on_result
        )
    elif name == "tdigest":
        # state = one digest row (<= ~2*delta centroids) per key per
        # batch between compactions, O(keys) after — expect flat
        per_batch = pl.stream_tdigest(
            state_path=state_path, keys=("event_type",), on_result=on_result
        )
    elif name == "priority":
        # state = top-(k+1) per stratum per batch, O(strata x k) after
        # compaction; merge is a lossless re-rank — expect flat
        per_batch = pl.stream_priority_sample(
            state_path=state_path,
            weight="value",
            strata="event_type",
            id_col="event_id",
            k=20,
            on_result=on_result,
        )
    elif name == "assoc":
        # NOTE: state is span-bounded by design (windows accumulate as
        # the stream's time span grows) — expect LINEAR state growth
        # here, not a plateau; the flatness signal is per-batch wall
        # divided by state rows
        per_batch = pl.stream_assoc_rules(state_path=state_path, on_result=on_result)
    elif name == "novelty":
        # state = per-gram min-doc-id; with --grow the vocabulary (and
        # so the state) grows every batch — per-batch wall must stay
        # O(batch grams) because the state side is semi-filtered by the
        # batch's gram set, and compaction output must track state
        per_batch = pl.stream_novelty(state_path=state_path, on_result=on_result)
    else:
        raise SystemExit(f"unknown twin: {name}")

    spark = get_spark(f"twin-longevity-{name}", master="local[8]")
    st = PartialStateTable(state_path)
    walls: list[float] = []
    state_at: dict[int, int] = {}
    for b in range(n_batches):
        df = _mkdocs(spark, b) if name == "novelty" else _mkdf(spark, b, grow)
        t0 = time.time()
        per_batch(df, b)
        walls.append(time.time() - t0)
        if b in (49, 99, 249) or b == n_batches - 1:
            state = st.read(spark)
            rows = state.count() if state is not None else 0
            state_at[b] = rows
            window = walls[max(0, b - 49) : b + 1]
            print(
                f"batch {b:4d}: wall(mean last 50)={sum(window)/len(window):.2f}s "
                f"state_rows={rows} files={st.file_count()} report_rows={sink['n']}",
                flush=True,
            )
    hw, tw = walls[:50], walls[-50:]
    head = sum(hw) / len(hw)
    tail = sum(tw) / len(tw)
    note = "" if n_batches >= 100 else " (WINDOWS OVERLAP: run >=100 batches)"
    line = (
        f"{name}{' --grow' if grow or name == 'novelty' else ''}: "
        f"{n_batches} batches, per-batch wall first50={head:.2f}s "
        f"last50={tail:.2f}s ratio={tail / head:.2f}x{note}"
    )
    if len(state_at) >= 2:
        bs = sorted(state_at)
        s0, s1 = state_at[bs[0]], state_at[bs[-1]]
        if s0:
            # growing-key verdict datum: wall ratio NEXT TO state ratio —
            # wall tracking <= O(state) (or flat for O(batch) twins) is
            # the pass condition, compaction-bounded files the other
            line += (
                f" | state b{bs[0]}->b{bs[-1]}: {s0}->{s1} rows "
                f"({s1 / s0:.2f}x), files={st.file_count()}"
            )
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
