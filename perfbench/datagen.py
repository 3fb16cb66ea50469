"""Seeded inputs.  The same seed gives the same bytes; sizes and shapes
do not depend on the seed, only values do.

* :func:`write_tables` — the registry's star schema + stream tables
  (TESTDATA.md column names and parquet types) at about its sf0.01
  row counts: 1,500 customers, 15,000 orders, 60,000 line items,
  10,000 events over 30 days, 500 documents (25 of them near-copies).
* :func:`sensor_batch` — one micro-batch of JSON sensor messages, in bursts.
* :func:`history_lists` — per-metric Redis lists of ``[ts, value]``
  JSON pairs, newest first, as the reference's history keys hold them.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "en", "de", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()

EPOCH_1992_US = 694_224_000 * 1_000_000
EVENTS_START_US = 1_704_067_200 * 1_000_000  # 2024-01-01
DAY_US = 86_400 * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def write_tables(out_dir: str, seed: int) -> dict[str, int]:
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_ord, n_li, n_ev, n_doc = 1_500, 15_000, 60_000, 10_000, 500
    days = rng.integers(0, 3650, n_ord)
    tables = {
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(1_000, 500_000, n_ord), 2),
            "o_orderdate": _ts(EPOCH_1992_US + days * DAY_US),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
        }),
    }
    li_order = rng.integers(0, n_ord, n_li)
    qty = rng.integers(1, 51, n_li).astype("float64")
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(li_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 2_000, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 100, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2_000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(EPOCH_1992_US + (days[li_order] + rng.integers(1, 122, n_li)) * DAY_US),
    })
    ev_ts = np.sort(EVENTS_START_US + rng.integers(0, 30 * DAY_US, n_ev))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(ev_ts),
        "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(40.0, n_ev) + 0.01, 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })
    words = [list(rng.integers(0, len(WORDS), int(n))) for n in rng.integers(8, 90, n_doc)]
    # one document in twenty is a near-copy of an earlier one (a word in
    # ten replaced), so the near-duplicate operators have pairs to find
    for i in rng.choice(np.arange(50, n_doc), n_doc // 20, replace=False):
        src = list(words[int(rng.integers(0, 50))])
        for k in rng.choice(len(src), max(1, len(src) // 10), replace=False):
            src[k] = int(rng.integers(0, len(WORDS)))
        words[i] = src
    texts = [" ".join(WORDS[w] for w in ws) for ws in words]
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{i}" for i in rng.integers(0, 18, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def sensor_batch(seed: int, index: int, *, sensors: int, metrics: int, start_s: int,
                 span_s: int, per_sensor: int, burst: int) -> list[dict]:
    """``per_sensor`` messages for each sensor over ``[start_s, start_s +
    span_s)`` in event-time order, each carrying every metric; integer
    second timestamps, strictly increasing per sensor.

    A sensor reports in bursts of ``burst`` messages 5-29 s apart (a
    burst lasts 15-87 s when ``burst`` is 4), the bursts spread evenly
    over the span.  So the 60 s anchored downsample drops most of a burst
    and now and then keeps a second message of it."""
    rng = np.random.default_rng([seed, 2, index])
    n_bursts = per_sensor // burst
    step = span_s // n_bursts
    msgs = []
    for k in range(n_bursts):
        for s in range(sensors):
            ts = start_s + k * step + int(rng.integers(0, step // 2))
            for _ in range(burst):
                vals = np.round(rng.normal(50.0, 15.0, metrics), 2)
                msgs.append({
                    "ts": ts,
                    "source": f"sensor{s}",
                    "value": {f"m{j}": float(v) for j, v in enumerate(vals)},
                })
                ts += int(rng.integers(5, 30))
    return msgs


def history_lists(seed: int, *, metrics, length: int, end_s: int) -> dict[str, list[list]]:
    """One list per metric name of ``length`` ``[ts, value]`` pairs before
    ``end_s``, newest first, 30-60 s apart (integer seconds)."""
    rng = np.random.default_rng([seed, 3])
    out = {}
    for name in metrics:
        gaps = rng.integers(30, 61, length)
        ts = end_s - np.cumsum(gaps)
        vals = np.round(rng.normal(50.0, 15.0, length), 2)
        out[name] = [[int(t), float(v)] for t, v in zip(ts, vals)]
    return out
