"""Structured Streaming layer tests (SURVEY §5.4).

Micro-batch tests over a file source (deterministic, no broker): the
JSON envelope decode, tumbling mean, session windows, the stateful
anchored downsample (state carried across micro-batches), and
restart-from-checkpoint (the reference's reconnect path,
trend-o-meter:277-284, replaced by checkpoint recovery).
"""

import json

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from trend_o_meter_spark.operators.downsample import downsample_anchored
from trend_o_meter_spark.streaming.display import render_frame
from trend_o_meter_spark.streaming.pipeline import (
    stream_session_channels,
    stream_stream_enrich,
    stream_tumbling_mean,
)
from trend_o_meter_spark.streaming.sources import decode_sensor_stream
from trend_o_meter_spark.streaming.stateful import stream_anchored_downsample

BASE = 1_699_999_980  # fixed epoch anchor, minute-aligned (window starts land on it)


def _frame(spark, rows, schema: str):
    """A static frame of ``rows`` under the DDL ``schema``, built from
    pandas (Arrow): a local relation, so each action on a twin's
    micro-batch skips the Python workers a plain list of tuples runs
    (0.02-0.03 s per action instead of 0.26-0.35 s, 4 cores)."""
    names = StructType.fromDDL(schema).names
    return spark.createDataFrame(pd.DataFrame(list(rows), columns=names, dtype=object), schema)


def _write_batch(path, msgs):
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text("\n".join(json.dumps(m) for m in msgs) + "\n")


def _sensor(ts, source="sensor-0", **metrics):
    return {"ts": BASE + ts, "source": source, "value": metrics}


@pytest.fixture()
def stream_dirs(tmp_path):
    return tmp_path / "in", tmp_path / "ckpt"


def _read_text_stream(spark, in_dir):
    in_dir.mkdir(parents=True, exist_ok=True)
    return (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")
        .load(str(in_dir))
    )


def _run_batches(spark, in_dir, ckpt, transform, batches, query_name, output_mode="append"):
    """Feed file batches one at a time, draining the stream between feeds
    (deterministic micro-batch order — the file source's mtime ordering is
    not stable for files written in the same millisecond)."""
    raw = _read_text_stream(spark, in_dir)
    q = (
        transform(raw)
        .writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .option("checkpointLocation", str(ckpt))
        .start()
    )
    for i, msgs in enumerate(batches):
        _write_batch(in_dir / f"b{i}.json", msgs)
        q.processAllAvailable()
    q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")


def test_stream_stream_enrich_matches_batch_join(spark, tmp_path):
    """Watermarked stream-stream join == the batch equi-join + range
    filter when nothing is late: each reading picks up every annotation
    of its metric from the preceding 60 s (inclusive both ends)."""
    l_dir, r_dir = tmp_path / "l_in", tmp_path / "r_in"
    l_dir.mkdir(); r_dir.mkdir()
    readings = [  # (offset_s, metric, value)
        (100, "m0", 1.0), (130, "m0", 2.0), (200, "m0", 3.0),
        (100, "m1", 9.0), (400, "m1", 8.0),
    ]
    notes = [  # (offset_s, metric, note) — 55 pairs with readings per the rule
        (50, "m0", "a"),   # within 60s of reading@100 only
        (95, "m0", "b"),   # within 60s of readings@100,130
        (130, "m0", "c"),  # ==ts of reading@130, within 60s of @130,@200 (gap 70>60? 200-130=70 -> only @130)
        (90, "m1", "d"),   # within 60s of reading@100 (m1)
        (500, "m1", "e"),  # after every m1 reading -> no match
    ]
    (l_dir / "l.json").write_text(
        "\n".join(
            json.dumps({"ts": BASE + o, "metric": m, "value": v}) for o, m, v in readings
        )
    )
    (r_dir / "r.json").write_text(
        "\n".join(
            json.dumps({"r_ts": BASE + o, "metric": m, "note": n}) for o, m, n in notes
        )
    )
    l_schema = "ts long, metric string, value double"
    r_schema = "r_ts long, metric string, note string"

    def prep(df, ts_col):
        return df.withColumn(ts_col, F.timestamp_seconds(F.col(ts_col)))

    l_stream = prep(spark.readStream.schema(l_schema).json(str(l_dir)), "ts")
    r_stream = prep(spark.readStream.schema(r_schema).json(str(r_dir)), "r_ts")
    joined = stream_stream_enrich(
        l_stream, r_stream, keys=("metric",), lookback_seconds=60
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_enrich")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r["metric"], int(r["ts"].timestamp()) - BASE, r["note"])
        for r in spark.sql("SELECT metric, ts, note FROM ss_enrich").collect()
    }
    # batch twin on the same frames
    lb = prep(_frame(spark, [(BASE + o, m, v) for o, m, v in readings], l_schema), "ts")
    rb = prep(_frame(spark, [(BASE + o, m, n) for o, m, n in notes], r_schema), "r_ts")
    rb = rb.withColumnRenamed("metric", "r_metric")
    batch = lb.join(
        rb,
        (F.col("metric") == F.col("r_metric"))
        & (F.col("r_ts") <= F.col("ts"))
        & (F.col("r_ts") >= F.col("ts") - F.expr("INTERVAL 60 SECONDS")),
    )
    want = {
        (r["metric"], int(r["ts"].timestamp()) - BASE, r["note"])
        for r in batch.select("metric", "ts", "note").collect()
    }
    assert got == want
    assert ("m0", 100, "a") in got and ("m1", 400, "e") not in got
    assert ("m0", 200, "c") not in got  # 70 s gap > lookback


def test_stream_static_dimension_join(spark, tmp_path):
    """Stream-static join: each streamed reading picks up its metric's
    renderer row from a static (broadcast) dimension — no watermark
    needed, the static side is re-read per micro-batch."""
    in_dir = tmp_path / "in"; in_dir.mkdir()
    dim = _frame(
        spark, [("m0", "psi", 1), ("m1", "rpm", 0)], "metric string, unit string, decimals int"
    )
    (in_dir / "b0.json").write_text(
        "\n".join(
            json.dumps({"ts": BASE + o, "metric": m, "value": v})
            for o, m, v in [(0, "m0", 1.5), (1, "m1", 700.0), (2, "mX", 9.9)]
        )
    )
    stream = (
        spark.readStream.schema("ts long, metric string, value double")
        .json(str(in_dir))
        .withColumn("ts", F.timestamp_seconds(F.col("ts")))
    )
    joined = stream.join(F.broadcast(dim), "metric")  # inner: unknown metrics drop
    q = (
        joined.writeStream.format("memory").queryName("ss_dim")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = {r["metric"]: r for r in spark.sql("SELECT * FROM ss_dim").collect()}
    assert set(rows) == {"m0", "m1"}
    assert rows["m0"]["unit"] == "psi" and rows["m1"]["decimals"] == 0


def test_decode_and_tumbling_mean(spark, stream_dirs):
    in_dir, ckpt = stream_dirs
    batches = [
        [_sensor(0, temperature=10.0), _sensor(30, temperature=20.0)],
        [_sensor(60, temperature=40.0), _sensor(90, temperature=20.0, humidity=50.0)],
        [_sensor(600, temperature=1.0)],  # advances watermark, closes windows
    ]
    out = _run_batches(
        spark,
        in_dir,
        ckpt,
        lambda raw: stream_tumbling_mean(
            decode_sensor_stream(raw, primary_source="sensor-0").filter(
                F.col("corrupt").isNull()
            ),
            keys=("metric",),
            window_seconds=60,
        ),
        batches,
        "tumbling_out",
    )
    rows = {
        (r["metric"], r["window_start"].timestamp() - BASE): r
        for r in out.collect()
    }
    t0 = rows[("temperature", 0.0)]
    assert t0["mean_value"] == pytest.approx(15.0)
    assert t0["n_samples"] == 2
    t1 = rows[("temperature", 60.0)]
    assert t1["mean_value"] == pytest.approx(30.0)
    assert ("humidity", 60.0) in rows


def test_decode_quarantines_corrupt(spark):
    df = spark.createDataFrame(
        [("{not json",), (json.dumps(_sensor(0, temperature=1.5)),)], ["value"]
    )
    out = decode_sensor_stream(df).collect()  # same expressions work in batch
    corrupt = [r for r in out if r["corrupt"] is not None]
    good = [r for r in out if r["corrupt"] is None]
    assert len(corrupt) == 1 and corrupt[0]["corrupt"] == "{not json"
    assert good[0]["metric"] == "temperature" and good[0]["value"] == 1.5


def test_anchored_downsample_state_across_batches(spark, stream_dirs):
    in_dir, ckpt = stream_dirs
    # gap=60s anchored: keep t=0 (mark 0), drop t=50, keep t=70 (mark 70),
    # then batch 2: drop t=100 (|100-70|<=60), keep t=140.
    batches = [
        [_sensor(0, temperature=1.0), _sensor(50, temperature=2.0), _sensor(70, temperature=3.0)],
        [_sensor(100, temperature=4.0), _sensor(140, temperature=5.0)],
    ]
    out = _run_batches(
        spark,
        in_dir,
        ckpt,
        lambda raw: stream_anchored_downsample(
            decode_sensor_stream(raw).filter(F.col("corrupt").isNull()),
            gap_seconds=60,
        ),
        batches,
        "anchored_out",
    )
    kept = sorted(r["ts"].timestamp() - BASE for r in out.collect())
    assert kept == [0.0, 70.0, 140.0]

    # parity with the batch applyInPandas twin on the union of batches
    # (ascending arrival order == ascending scan order)
    all_rows = [m for b in batches for m in b]
    batch_df = _frame(
        spark, [(float(m["ts"]), "temperature", m["value"]["temperature"]) for m in all_rows],
        "epoch double, metric string, value double",
    ).select(F.timestamp_seconds("epoch").alias("ts"), "metric", "value")
    batch_kept = sorted(
        r["ts"].timestamp() - BASE
        for r in downsample_anchored(
            batch_df, keys=("metric",), gap_seconds=60, newest_first=False
        ).collect()
    )
    assert batch_kept == kept


def test_anchored_downsample_golden_trace_matches_reference_walk(spark, stream_dirs):
    """F3 trigger parity, pinned: replay a recorded message sequence and
    assert the stream's batch-close points equal a hand-walked trace of
    the reference's message loop (trend-o-meter:381-439: ``timeMark=0;
    willProcess = |msg.ts - timeMark| > timeBetweenSamples; on process
    timeMark = msg.ts``).  The trace exercises a first-message close,
    sub-gap runs, the exactly-equal-gap boundary (NOT a close — strict
    >), back-to-back closes, and a long quiet period, across three
    micro-batches so the anchor must survive the state store."""
    gap = 60
    batches_off = [
        [0, 45, 60, 61, 100, 130],
        [140, 190, 191, 400],
        [430, 459, 460, 461],
    ]

    # hand-walked reference trace (naive mirror of the JS loop)
    time_mark = 0
    expected_closes = []
    for off in (o for b in batches_off for o in b):
        ts = BASE + off
        if abs(ts - time_mark) > gap:  # willProcess, trend-o-meter:387
            expected_closes.append(float(off))
            time_mark = ts
    assert expected_closes == [0.0, 61.0, 130.0, 191.0, 400.0, 461.0]  # sanity

    in_dir, ckpt = stream_dirs
    out = _run_batches(
        spark,
        in_dir,
        ckpt,
        lambda raw: stream_anchored_downsample(
            decode_sensor_stream(raw).filter(F.col("corrupt").isNull()),
            gap_seconds=gap,
        ),
        [[_sensor(o, temperature=float(o)) for o in b] for b in batches_off],
        "golden_trace_out",
    )
    closes = sorted(r["ts"].timestamp() - BASE for r in out.collect())
    assert closes == expected_closes


def test_session_channels(spark, stream_dirs):
    in_dir, ckpt = stream_dirs
    batches = [
        [_sensor(0), _sensor(30), _sensor(200)],  # gap 60 -> two sessions
        [_sensor(2000)],  # advances watermark so sessions close
    ]
    out = _run_batches(
        spark,
        in_dir,
        ckpt,
        lambda raw: stream_session_channels(
            decode_sensor_stream(raw).filter(F.col("corrupt").isNull()),
            channel="source",
            gap_seconds=60,
        ),
        batches,
        "session_out",
    )
    sessions = sorted(
        (r["session_start"].timestamp() - BASE, r["n_msgs"]) for r in out.collect()
    )
    # first session: t=0 + t=30 (x1 metric each... decode explodes 1 metric/msg)
    assert sessions[0] == (0.0, 2)
    assert sessions[1][0] == 200.0


def test_restart_from_checkpoint_no_duplicates(spark, stream_dirs):
    in_dir, ckpt = stream_dirs
    transform = lambda r: stream_anchored_downsample(  # noqa: E731
        decode_sensor_stream(r).filter(F.col("corrupt").isNull()), gap_seconds=60
    )
    seen: list[tuple[int, float]] = []  # (run, kept offset)

    def start(run):
        return (
            transform(_read_text_stream(spark, in_dir))
            .writeStream.foreachBatch(
                lambda bdf, bid: seen.extend(
                    (run, r["ts"].timestamp() - BASE) for r in bdf.collect()
                )
            )
            .outputMode("append")
            .option("checkpointLocation", str(ckpt))
            .start()
        )

    q1 = start(1)
    _write_batch(in_dir / "b0.json", [_sensor(0, temperature=1.0), _sensor(70, temperature=2.0)])
    q1.processAllAvailable()
    q1.stop()
    # new data lands while "down"; restart must resume the anchor (mark=70)
    _write_batch(in_dir / "b1.json", [_sensor(100, temperature=3.0), _sensor(140, temperature=4.0)])
    q2 = start(2)
    q2.processAllAvailable()
    q2.stop()
    assert sorted(t for run, t in seen if run == 1) == [0.0, 70.0]
    # post-restart: anchor recovered at 70 drops t=100, keeps t=140 — and the
    # already-emitted batch 0 rows are not replayed
    assert sorted(t for run, t in seen if run == 2) == [140.0]


def test_render_frame_shape(spark):
    from types import SimpleNamespace

    class Row(dict):
        def asDict(self):
            return self

        def __getitem__(self, k):
            return dict.__getitem__(self, k)

    rows = [
        Row(metric="temperature", day_bin=1, min_val=12.4, max_val=25.6, is_complete=True),
        Row(metric="temperature", day_bin=3, min_val=-3.5, max_val=30.0, is_complete=False),
    ]
    frame = render_frame(rows, metric="temperature", current_value=21.7)
    assert len(frame) == 4
    assert frame[0].startswith("tmp")  # devoweled 3-char label
    assert "22" in frame[0]  # rounded current value
    assert frame[1].startswith("1d") and "3d" in frame[1]
    assert "26" in frame[2] and "----" in frame[2]  # incomplete bin masked
    assert "12" in frame[3]

    # the "rest" leftover bin (emitted once history outlives max(day_bins))
    # has no display cell: it must be dropped, not crash int(day_bin)
    # (advisor-flagged ValueError that killed the streaming query)
    rows.append(
        Row(metric="temperature", day_bin="rest", min_val=0.0, max_val=99.0, is_complete=True)
    )
    frame2 = render_frame(rows, metric="temperature", current_value=21.7)
    assert frame2[1:] == frame[1:]  # identical cells, rest excluded


def test_stream_day_bins_end_to_end(spark, stream_dirs, tmp_path):
    """The full reference loop (§3.2): ingest -> anchored downsample ->
    history table -> day-bin extremes -> display frame, per micro-batch."""
    from trend_o_meter_spark.streaming.display import render_frame
    from trend_o_meter_spark.streaming.pipeline import stream_day_bins

    in_dir, ckpt = stream_dirs
    results = {}
    frames = {}

    def on_result(batch_id, df):
        rows = df.collect()
        results[batch_id] = rows
        frames[batch_id] = render_frame(rows, metric="temperature")

    kept, per_batch = stream_day_bins(
        decode_sensor_stream(_read_text_stream(spark, in_dir)).filter(
            F.col("corrupt").isNull()
        ),
        state_path=str(tmp_path / "history"),
        gap_seconds=60,
        min_data_hours=18,
        on_result=on_result,
    )
    q = (
        kept.writeStream.foreachBatch(per_batch)
        .outputMode("append")
        .option("checkpointLocation", str(ckpt))
        .start()
    )
    # batch 1: two days of hourly data; batch 2: a newer day (shifts the anchor)
    _write_batch(
        in_dir / "b0.json",
        [_sensor(-h * 3600, temperature=float(h % 24)) for h in range(0, 48)],
    )
    q.processAllAvailable()
    _write_batch(
        in_dir / "b1.json",
        [_sensor(3 * 86400 + h * 3600, temperature=100.0 + h) for h in range(0, 24)],
    )
    q.processAllAvailable()
    q.stop()

    first = {r["day_bin"]: r for r in results[min(results)] if r["metric"] == "temperature"}
    # 48 hourly samples: bin '1' holds ages <= 1d from the newest
    assert first["1"]["n_samples"] == 25 and first["1"]["is_complete"]
    last = {r["day_bin"]: r for r in results[max(results)] if r["metric"] == "temperature"}
    # anchor moved to BASE+3d23h: the old 0..-47h data now sits at ages
    # 3d23h..5d22h -> bins 5 and 7; the new day is bin 1
    assert last["1"]["max_val"] == 123.0
    assert set(last) == {"1", "5", "7"}
    f = frames[max(frames)]
    assert len(f) == 4 and f[0].startswith("tmp")


def test_stream_day_bins_resumes_at_checkpointed_partitions(spark, stream_dirs, tmp_path):
    """A query checkpointed at 32 shuffle partitions and restarted under
    a host-sized default keeps its 32 state partitions (Spark restores
    ``spark.sql.shuffle.partitions`` from the offset log) and its
    per-metric anchors, and still equals the batch twin.  Every
    micro-batch, the all-corrupt empty one included, leaves no cached
    RDD behind, and the empty one writes no state file."""
    from pathlib import Path

    from trend_o_meter_spark.operators.daybins import day_binned_extremes
    from trend_o_meter_spark.streaming.pipeline import stream_day_bins
    from trend_o_meter_spark.streaming.statestore import PartialStateTable

    in_dir, ckpt = stream_dirs
    state = str(tmp_path / "history")
    metrics = ("temperature", "humidity", "pressure")
    # offsets 0, 45, 100, 130, ... : some readings inside the 60 s gap
    b0 = [_sensor(3600 * h + o, **{m: float(h * 7 + o) for m in metrics})
          for h in range(30) for o in (0, 45, 100)]
    # batch 1 opens 30 s after batch 0's last kept reading: only the
    # carried anchor drops it
    last = 3600 * 29 + 100
    b1 = [_sensor(last + 30 + 3600 * h + o, **{m: float(500 - h + o) for m in metrics})
          for h in range(20) for o in (0, 50, 90)]
    results = {}
    sc = spark.sparkContext
    cached_before = set(sc._jsc.getPersistentRDDs().keySet())

    def cached():
        return set(sc._jsc.getPersistentRDDs().keySet()) - cached_before

    def start():
        kept, per_batch = stream_day_bins(
            decode_sensor_stream(_read_text_stream(spark, in_dir)).filter(
                F.col("corrupt").isNull()
            ),
            state_path=state,
            on_result=lambda bid, df: results.__setitem__(bid, df.collect()),
        )
        return (
            kept.writeStream.foreachBatch(per_batch)
            .outputMode("append")
            .option("checkpointLocation", str(ckpt))
            .start()
        )

    def state_partitions(q):
        return q.lastProgress["stateOperators"][0]["numShufflePartitions"]

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        q = start()
        _write_batch(in_dir / "b0.json", b0)
        q.processAllAvailable()
        assert state_partitions(q) == 32
        q.stop()
        assert cached() == set()

        spark.conf.set("spark.sql.shuffle.partitions", "4")
        q = start()
        _write_batch(in_dir / "b1.json", b1)
        q.processAllAvailable()
        assert state_partitions(q) == 32
        assert cached() == set()
        n_files = PartialStateTable(state).file_count()
        n_results = len(results)
        (in_dir / "b2.json").write_text("{not json\n{still not\n")
        q.processAllAvailable()
        assert len(results) > n_results  # the empty batch ran
        assert cached() == set()
        assert PartialStateTable(state).file_count() == n_files
        q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    parts = {p.name for p in (Path(ckpt) / "state" / "0").iterdir() if p.name.isdigit()}
    assert len(parts) == 32

    readings = _frame(
        spark, [(float(m["ts"]), k, v) for m in b0 + b1 for k, v in m["value"].items()],
        "epoch double, metric string, value double",
    ).select("metric", F.timestamp_seconds("epoch").alias("ts"), "value")
    twin_kept = downsample_anchored(
        readings, keys=("metric",), gap_seconds=60, newest_first=False
    )
    live_kept = PartialStateTable(state).read(spark)
    assert sorted(map(tuple, live_kept.collect())) == sorted(
        map(tuple, twin_kept.select("metric", "ts", "value").collect())
    )
    assert not any(r["ts"].timestamp() == BASE + last + 30 for r in live_kept.collect())
    twin = day_binned_extremes(twin_kept, ts="ts", value="value", metric="metric")
    assert sorted(map(tuple, results[max(results)])) == sorted(map(tuple, twin.collect()))


def test_backfill_then_tail(spark, stream_dirs, tmp_path):
    """Lambda shape (SURVEY §1.1): seed the history table from a bounded
    batch backfill, then let the live stream append — the day-bin result
    covers both eras."""
    from trend_o_meter_spark.streaming.pipeline import seed_history, stream_day_bins

    in_dir, ckpt = stream_dirs
    state = str(tmp_path / "history")
    # batch backfill: 2 days of minutely history, values 0..9 repeating
    backfill = _frame(
        spark, [(float(BASE - m * 60), "temperature", float(m % 10)) for m in range(1, 2 * 1440)],
        "epoch double, metric string, value double",
    ).select("metric", F.timestamp_seconds("epoch").alias("ts"), "value")
    seed_history(backfill, state_path=state, gap_seconds=60)

    results = {}
    kept, per_batch = stream_day_bins(
        decode_sensor_stream(_read_text_stream(spark, in_dir)).filter(
            F.col("corrupt").isNull()
        ),
        state_path=state,
        gap_seconds=60,
        on_result=lambda bid, df: results.__setitem__(bid, df.collect()),
    )
    q = (
        kept.writeStream.foreachBatch(per_batch)
        .outputMode("append")
        .option("checkpointLocation", str(ckpt))
        .start()
    )
    _write_batch(in_dir / "live.json", [_sensor(600 + i * 90, temperature=50.0) for i in range(5)])
    q.processAllAvailable()
    q.stop()

    bins = {r["day_bin"]: r for r in results[max(results)] if r["metric"] == "temperature"}
    # live max (50) and backfill minutely history both visible
    assert bins["1"]["max_val"] == 50.0
    assert bins["1"]["n_samples"] > 1400  # ~a day of backfill + live ticks
    assert "3" in bins  # the older backfill era


def test_display_heartbeat_alternation():
    from trend_o_meter_spark.streaming.display import Heartbeat

    hb = Heartbeat(alternate_every=3)
    ticks = [hb.tick() for _ in range(4)]
    assert ticks == ["~", "*", "~", "*"]  # alternating tick char
    # ticks now = 4 -> period index 1 (label phase); boundary shows ' - '
    hb2 = Heartbeat(alternate_every=3)
    cells = []
    for _ in range(7):
        hb2.tick()
        cells.append(hb2.current_cell(metric="temperature", value=21.7))
    # ticks 1,2: value phase; tick 3: flip boundary; 4,5: label; 6: boundary; 7: value
    assert cells[0] == cells[1] == "  22"
    assert cells[2] == " - "
    assert cells[3] == cells[4] == "tmp "
    assert cells[5] == " - "
    assert cells[6] == "  22"


def test_rate_sensor_stream_decodes(spark, tmp_path):
    """The synthetic rate-source sensor stream (S3 without a broker):
    envelope encodes, decode recovers all metrics with live timestamps."""
    from trend_o_meter_spark.streaming.sources import rate_sensor_stream

    raw = rate_sensor_stream(spark, rows_per_second=200, n_sources=2)
    decoded = decode_sensor_stream(raw)
    q = (
        decoded.writeStream.format("memory")
        .queryName("rate_decoded")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    import time as _t

    deadline = _t.time() + 20
    rows = []
    while _t.time() < deadline:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM rate_decoded").collect()
        if len(rows) >= 40:
            break
        _t.sleep(0.5)
    q.stop()
    assert len(rows) >= 40
    assert all(r["corrupt"] is None for r in rows)
    assert {r["metric"] for r in rows} == {"temperature", "humidity", "pressure", "mc_2p5"}
    assert {r["source"] for r in rows} <= {"sensor-0", "sensor-1"}
    assert all(r["value"] is not None and r["ts"] is not None for r in rows)


def test_watermark_drops_late_rows(spark, stream_dirs):
    """§2.9 documented divergence: the reference accepts arbitrarily-late
    samples (corrupting its sort invariant); we bound lateness with the
    watermark — a row older than watermark is DROPPED, not mis-applied."""
    in_dir, ckpt = stream_dirs
    batches = [
        [_sensor(0, temperature=10.0)],
        [_sensor(1000, temperature=20.0)],   # advances watermark to 1000-120=880
        [_sensor(30, temperature=99.0)],     # 30 < 880: too late -> dropped
        [_sensor(2000, temperature=30.0)],   # closes remaining windows
    ]
    out = _run_batches(
        spark,
        in_dir,
        ckpt,
        lambda raw: stream_tumbling_mean(
            decode_sensor_stream(raw).filter(F.col("corrupt").isNull()),
            keys=("metric",),
            window_seconds=60,
            watermark="2 minutes",
        ),
        batches,
        "late_out",
    )
    rows = {r["window_start"].timestamp() - BASE: r for r in out.collect()}
    # the t=0 window must contain ONLY the on-time sample: mean 10, n=1 —
    # the late 99.0 never lands
    assert rows[0.0]["n_samples"] == 1
    assert rows[0.0]["mean_value"] == 10.0


def test_stream_exact_dedup_within_watermark(spark, stream_dirs):
    """Streaming dedup: duplicate content (after normalization) inside the
    watermark horizon is emitted exactly once; distinct content passes;
    state is keyed by content hash so the op survives micro-batch splits."""
    from trend_o_meter_spark.streaming.pipeline import stream_exact_dedup

    def doc(off, text):
        return {"ts": BASE + off, "source": "docs", "value": {"t": 0.0}, "text": text}

    in_dir, ckpt = stream_dirs
    batches = [
        [doc(0, "Alpha Doc"), doc(1, "  alpha   doc  "), doc(2, "beta doc")],
        [doc(3, "ALPHA DOC"), doc(4, "gamma doc")],  # dup arrives a batch later
    ]

    def transform(raw):
        parsed = raw.select(
            F.get_json_object("value", "$.text").alias("text"),
            F.timestamp_seconds(F.get_json_object("value", "$.ts").cast("double")).alias("ts"),
        ).filter(F.col("text").isNotNull())
        return stream_exact_dedup(parsed, ts="ts", text="text", watermark="10 minutes")

    out = _run_batches(spark, in_dir, ckpt, transform, batches, "dedup_stream_out")
    rows = out.collect()
    # one row per distinct normalized content: alpha, beta, gamma
    hashes = [r["content_hash"] for r in rows]
    assert len(hashes) == len(set(hashes)) == 3
    kept_texts = {r["text"].strip().lower().replace("   ", " ").replace("  ", " ") for r in rows}
    assert kept_texts == {"alpha doc", "beta doc", "gamma doc"}


def test_streaming_curation_pipeline(spark, tmp_path):
    """LLM curation ops compose in Structured Streaming: a document
    stream is quality-filtered and exact-deduped within the watermark,
    and only clean, first-seen docs land in the parquet sink."""
    import json as _json

    from pyspark.sql import functions as SF
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from trend_o_meter_spark.llm.dedup import _norm
    from trend_o_meter_spark.llm.text import quality_filter

    in_dir, out, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ck"
    in_dir.mkdir()
    good = ("the quick brown fox jumps over the lazy dog and then the "
            "fox naps in the warm garden for a while longer today")
    rows = [
        {"doc_id": 1, "ts": "2024-01-01 00:00:01", "text": good},
        {"doc_id": 2, "ts": "2024-01-01 00:00:02", "text": good},      # exact dup
        {"doc_id": 3, "ts": "2024-01-01 00:00:03", "text": "too short"},
        {"doc_id": 4, "ts": "2024-01-01 00:00:04", "text": good.replace("fox", "cat")},
    ]
    (in_dir / "b0.json").write_text("\n".join(_json.dumps(r) for r in rows))
    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("text", StringType()),
    ])
    stream = spark.readStream.schema(schema).json(str(in_dir))

    def curate(df):
        # stateless quality rules are plain column exprs on the stream;
        # the stateful leg is dropDuplicatesWithinWatermark on content
        stats_keep = quality_filter(df.select("doc_id", "text")).filter("keep")
        cleaned = (
            df.join(SF.broadcast(stats_keep.select("doc_id")), "doc_id")
            .withColumn("content_hash", SF.md5(_norm(SF.col("text"))))
            .withWatermark("ts", "10 minutes")
            .dropDuplicatesWithinWatermark(["content_hash"])
        )
        return cleaned.select("doc_id", "ts", "content_hash")

    q = (
        curate(stream)
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r["doc_id"] for r in spark.read.parquet(str(out)).collect())
    # exactly ONE of the exact-dup pair {1,2} survives (which one is
    # batch-order dependent within a single micro-batch), 3 is dropped by
    # quality, 4 (near-dup but not exact) passes
    assert len(got) == 2 and got[1] == 4 and got[0] in (1, 2)


def test_stream_trending_matches_batch(spark, tmp_path):
    """Streaming trend detection: partial counts appended per batch,
    re-summed and re-scored — final scores identical to the batch
    trending_counts over the full input (incremental-merge correctness,
    including a late row landing in an old bucket)."""
    from datetime import datetime, timedelta

    from trend_o_meter_spark.operators.trend import trending_counts
    from trend_o_meter_spark.streaming.pipeline import stream_trending

    day0 = datetime(2024, 1, 1, 6, 0)

    def evs(key, per_day):
        return [
            (key, day0 + timedelta(days=d, seconds=i))
            for d, c in enumerate(per_day)
            for i in range(c)
        ]

    full = evs("hot", [1, 2, 3, 2, 10]) + evs("flat", [2, 2, 2, 2, 2])
    # batch 1: first three days; batch 2: the rest PLUS a late day-0 row
    late = [("hot", day0 + timedelta(seconds=500))]
    full_plus_late = full + late
    b1 = [r for r in full if (r[1] - day0).days < 3]
    b2 = [r for r in full if (r[1] - day0).days >= 3] + late

    results = {}
    per_batch = stream_trending(
        state_path=str(tmp_path / "counts"),
        keys=("metric",),
        bucket_seconds=86400,
        on_result=lambda bid, df: results.update({bid: df.collect()}),
    )
    schema = "metric string, ts timestamp"
    per_batch(_frame(spark, b1, schema), 0)
    per_batch(_frame(spark, b2, schema), 1)

    expected = sorted(
        map(tuple, trending_counts(_frame(spark, full_plus_late, schema)).collect())
    )
    got = sorted(map(tuple, results[1]))
    assert got == expected
    # mid-stream result is the batch answer over the data seen so far
    mid = sorted(
        map(tuple, trending_counts(_frame(spark, b1, schema)).collect())
    )
    assert sorted(map(tuple, results[0])) == mid


def test_rowwise_minhash_matches_grouped(spark):
    """The streaming per-row signature must be value-identical to the
    batch grouped-agg signature (same shingles, hashes, permutations,
    and no-shingle exclusion)."""
    from trend_o_meter_spark.llm.dedup import minhash_signatures
    from trend_o_meter_spark.streaming.lsh import rowwise_minhash_signatures

    df = _frame(
        spark, [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumped over the lazy dog"),
            (3, "completely different text about database engines"),
            (4, "too short"),  # < shingle_n tokens: excluded by BOTH paths
        ],
        "doc_id long, text string",
    )
    batch = {r["id"]: r["sig"] for r in minhash_signatures(df).collect()}
    arrow = {r["id"]: r["sig"] for r in rowwise_minhash_signatures(df).collect()}
    expr = {
        r["id"]: r["sig"] for r in rowwise_minhash_signatures(df, impl="expr").collect()
    }
    assert batch == arrow == expr
    assert 4 not in batch


def test_rowwise_minhash_arrow_java_canonicalization(spark):
    """Arrow path vs expression path on texts that stress the JVM/Python
    semantic gap: Java \\s is ASCII-only (Python's matches U+00A0),
    Spark trim() strips only U+0020 (a leading \\x0b becomes an empty
    first token after the squash), mixed case, nulls."""
    from trend_o_meter_spark.streaming.lsh import rowwise_minhash_signatures

    df = _frame(
        spark, [
            (1, "  The\tQuick  BROWN fox\n jumps high "),
            (2, "nbsp glued words stay one token here ok"),
            (3, "\x0b\x0cleading controls trimmed like java does\r\n"),
            (4, None),
            (5, "two toks"),
        ],
        "doc_id long, text string",
    )
    expr = {r["id"]: r["sig"] for r in rowwise_minhash_signatures(df, impl="expr").collect()}
    arrow = {r["id"]: r["sig"] for r in rowwise_minhash_signatures(df, impl="arrow").collect()}
    assert arrow == expr
    assert 4 not in arrow and 5 not in arrow


@pytest.mark.parametrize("state_groups,fused", [(8, False), (None, False), (8, True)])
def test_stream_near_dup_lsh_matches_batch(spark, stream_dirs, state_groups, fused):
    """Incremental LSH over two micro-batches finds exactly the batch
    operator's candidate pairs — including pairs whose members arrive in
    DIFFERENT batches (the state store carries bucket membership).
    Pinned for ALL THREE layouts: bucket directory (state_groups=8),
    per-bucket keying (None, the default), and the round-13 FUSED
    directory (signatures + banding computed inside the stateful
    kernel, docs replicated to every group)."""
    from trend_o_meter_spark.llm.dedup import minhash_lsh_pairs
    from trend_o_meter_spark.streaming.lsh import stream_near_dup_lsh

    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = [
        (10, base),
        (11, base + " extra"),
        (20, "completely different text about database query optimizers at scale"),
        (12, base + " extras"),  # arrives a batch later; dups 10 and 11
        (21, "another unrelated document discussing storage formats and codecs"),
    ]
    batches = [
        [{"doc_id": i, "text": t} for i, t in docs[:3]],
        [{"doc_id": i, "text": t} for i, t in docs[3:]],
    ]
    in_dir, ckpt = stream_dirs

    def transform(raw):
        parsed = raw.select(
            F.get_json_object("value", "$.doc_id").cast("long").alias("doc_id"),
            F.get_json_object("value", "$.text").alias("text"),
        ).filter(F.col("text").isNotNull())
        return stream_near_dup_lsh(
            parsed, state_groups=state_groups, fuse_signatures=fused
        )

    out = _run_batches(spark, in_dir, ckpt, transform, batches, "lsh_stream_out")
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}  # dedupe across bands
    df = _frame(spark, docs, "doc_id long, text string")
    want = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(df).collect()}
    assert got == want
    assert any(a == 10 and b == 12 for a, b in got)  # cross-batch pair found


def test_stream_image_phash_pairs_matches_batch(spark, stream_dirs):
    """Incremental image near-dup over two micro-batches finds exactly
    the batch operator's verified pairs — including a pair whose
    members arrive in DIFFERENT batches (the bucket state carries
    member (id, phash) lists and the hamming verify runs in state)."""
    import base64

    import numpy as np

    from trend_o_meter_spark.llm import multimodal as mm
    from trend_o_meter_spark.llm.jpeg import encode_jpeg
    from trend_o_meter_spark.streaming.lsh import stream_image_phash_pairs

    rng = np.random.RandomState(2)
    yv, xv = np.mgrid[0:48, 0:64].astype(float)
    img = np.zeros((48, 64, 3))
    for _ in range(10):
        cy, cx = rng.uniform(0, 48), rng.uniform(0, 64)
        s, a = rng.uniform(6, 20), rng.uniform(40, 120)
        blob = a * np.exp(-(((yv - cy) / s) ** 2 + ((xv - cx) / s) ** 2))
        for ch in range(3):
            img[:, :, ch] += blob * rng.uniform(0.5, 1.5)
    img = np.clip(img, 0, 255).astype(np.uint8)
    noise = rng.randint(0, 256, (48, 64, 3)).astype(np.uint8)
    payloads = {
        10: encode_jpeg(img, quality=95),
        11: encode_jpeg(img, quality=60),     # near-dup of 10
        20: encode_jpeg(noise, quality=85),   # unrelated
        12: encode_jpeg(img, quality=30),     # arrives a batch later
    }
    batches = [
        [{"media_id": i, "b64": base64.b64encode(bytes(payloads[i])).decode()}
         for i in (10, 11, 20)],
        [{"media_id": 12, "b64": base64.b64encode(bytes(payloads[12])).decode()}],
    ]
    in_dir, ckpt = stream_dirs

    def transform(raw):
        parsed = raw.select(
            F.get_json_object("value", "$.media_id").cast("long").alias("media_id"),
            F.unbase64(F.get_json_object("value", "$.b64")).alias("content"),
        ).filter(F.col("content").isNotNull()).withColumn(
            "media_type", F.lit("image")
        )
        return stream_image_phash_pairs(parsed)

    out = _run_batches(spark, in_dir, ckpt, transform, batches, "phash_stream_out")
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}  # dedupe across bands
    media = _frame(
        spark, [(i, "image", bytearray(p)) for i, p in payloads.items()],
        "media_id long, media_type string, content binary",
    )
    want = {(r["id_a"], r["id_b"]) for r in mm.image_phash_pairs(media).collect()}
    assert got == want
    assert (10, 12) in got  # cross-batch near-dup found via carried state
    assert all(20 not in pair for pair in got)  # noise never pairs


def test_stream_near_dup_bucket_cap(spark, stream_dirs):
    """max_bucket stops admitting members: with a cap of 2, the third+
    copy of identical boilerplate emits no new pairs (degenerate-bucket
    protection — O(cap^2) pairs per bucket, never O(n^2))."""
    from trend_o_meter_spark.streaming.lsh import stream_near_dup_lsh

    boiler = "identical boilerplate text repeated across the corpus every day"
    batches = [
        [{"doc_id": i, "text": boiler} for i in range(5)],
    ]
    in_dir, ckpt = stream_dirs

    def transform(raw):
        parsed = raw.select(
            F.get_json_object("value", "$.doc_id").cast("long").alias("doc_id"),
            F.get_json_object("value", "$.text").alias("text"),
        ).filter(F.col("text").isNotNull())
        return stream_near_dup_lsh(parsed, max_bucket=2)

    out = _run_batches(spark, in_dir, ckpt, transform, batches, "lsh_cap_out")
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    # only ids 0 and 1 are admitted to each bucket -> the single pair (0, 1)
    assert pairs == {(0, 1)}


def test_stream_cms_equals_batch_sketch(spark, tmp_path):
    """The streaming CMS (per-batch partial grids, elementwise-sum merge)
    must be bit-identical to the batch sketch over the union — the
    mergeability contract, live."""
    from trend_o_meter_spark.operators.cms import cms_build, cms_estimate
    from trend_o_meter_spark.streaming.pipeline import stream_cms

    rows = [("m%d" % (i % 7),) for i in range(300)] + [("hot",)] * 120
    b1 = rows[:200]
    b2 = rows[200:]
    results = {}
    per_batch = stream_cms(
        state_path=str(tmp_path / "grid"),
        key="metric",
        on_result=lambda bid, df: results.update({bid: sorted(map(tuple, df.collect()))}),
    )
    per_batch(_frame(spark, b1, "metric string"), 0)
    per_batch(_frame(spark, b2, "metric string"), 1)

    full = _frame(spark, rows, "metric string")
    want = sorted(map(tuple, cms_build(full, key="metric").collect()))
    assert results[1] == want
    # and the merged stream sketch answers point queries like the batch one
    merged = _frame(
        spark, [tuple(r) for r in results[1]], "row_id int, bucket bigint, cnt long"
    )
    est = {
        r["metric"]: r["cms_estimate"]
        for r in cms_estimate(
            merged, full.groupBy("metric").count(), key="metric"
        ).collect()
    }
    assert est["hot"] >= 120  # CMS never undercounts


def test_stream_hll_rollup_equals_batch_estimate(spark, tmp_path):
    """Streaming HLL rollup (per-batch partial sketches, register-max
    union) estimates exactly what the batch union-of-daily-sketches
    estimates — including a user seen in BOTH batches counted once."""
    from datetime import datetime, timezone

    from trend_o_meter_spark.streaming.pipeline import stream_hll_rollup

    def ev(metric, day, user):
        return (metric, datetime(2024, 1, day, 12, 0, tzinfo=timezone.utc), user)

    b1 = [ev("m0", 1, u) for u in range(30)] + [ev("m1", 1, u) for u in range(5)]
    b2 = [ev("m0", 2, u) for u in range(15, 45)] + [ev("m1", 2, 4)]  # overlaps b1
    schema = "event_type string, ts timestamp, user_id long"
    results = {}
    per_batch = stream_hll_rollup(
        state_path=str(tmp_path / "sk"),
        on_result=lambda bid, df: results.update({bid: {r["event_type"]: r["approx_users"] for r in df.collect()}}),
    )
    per_batch(_frame(spark, b1, schema), 0)
    per_batch(_frame(spark, b2, schema), 1)

    full = _frame(spark, b1 + b2, schema)
    want = {
        r["event_type"]: r["est"]
        for r in full.groupBy("event_type", F.date_trunc("day", "ts"))
        .agg(F.hll_sketch_agg("user_id").alias("__sk"))
        .groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("__sk")).alias("est"))
        .collect()
    }
    assert results[1] == want
    # accuracy sanity: 45 distinct users for m0, 5 for m1 — HLL within 10%
    assert abs(results[1]["m0"] - 45) <= 5
    assert abs(results[1]["m1"] - 5) <= 1


def test_stream_lsh_restart_from_checkpoint(spark, stream_dirs):
    """Kill-and-restart for the stateful LSH operator: bucket membership
    lives in the checkpointed state store, so after a restart a new
    arrival still pairs with documents admitted BEFORE the crash, and
    already-emitted pairs are not replayed."""
    from trend_o_meter_spark.streaming.lsh import stream_near_dup_lsh

    in_dir, ckpt = stream_dirs
    base = "the quick brown fox jumps over the lazy dog again and again today"
    seen: list[tuple[int, tuple]] = []

    def transform(raw):
        parsed = raw.select(
            F.get_json_object("value", "$.doc_id").cast("long").alias("doc_id"),
            F.get_json_object("value", "$.text").alias("text"),
        ).filter(F.col("text").isNotNull())
        return stream_near_dup_lsh(parsed)

    def start(run):
        return (
            transform(_read_text_stream(spark, in_dir))
            .writeStream.foreachBatch(
                lambda bdf, bid: seen.extend(
                    (run, (r["id_a"], r["id_b"])) for r in bdf.collect()
                )
            )
            .outputMode("append")
            .option("checkpointLocation", str(ckpt))
            .start()
        )

    q1 = start(1)
    _write_batch(
        in_dir / "b0.json",
        [{"doc_id": 10, "text": base}, {"doc_id": 11, "text": base + " extra"}],
    )
    q1.processAllAvailable()
    q1.stop()
    # doc 12 arrives while "down"; after restart it must pair with the
    # PRE-crash bucket members 10 and 11
    _write_batch(in_dir / "b1.json", [{"doc_id": 12, "text": base + " extras"}])
    q2 = start(2)
    q2.processAllAvailable()
    q2.stop()
    run1 = {p for run, p in seen if run == 1}
    run2 = {p for run, p in seen if run == 2}
    assert run1 == {(10, 11)}
    assert run2 == {(10, 12), (11, 12)}  # state recovered, nothing replayed


def test_stream_cms_restart_resumes_state_table(spark, tmp_path):
    """Process-restart for the CMS twin: the grid state table is on
    disk, so a NEW per_batch instance (fresh process) resumes it — and
    the at-least-once replay of the in-flight batch still sums exactly
    once.  Final sketch == batch sketch of the union."""
    from trend_o_meter_spark.operators.cms import cms_build
    from trend_o_meter_spark.streaming.pipeline import stream_cms

    rows = [("m%d" % (i % 4),) for i in range(180)]
    b1, b2, b3 = rows[:60], rows[60:120], rows[120:]
    results = {}
    path = str(tmp_path / "grid")
    on = lambda bid, df: results.update({bid: sorted(map(tuple, df.collect()))})  # noqa: E731
    per_batch = stream_cms(state_path=path, key="metric", on_result=on)
    per_batch(_frame(spark, b1, "metric string"), 0)
    per_batch(_frame(spark, b2, "metric string"), 1)
    # "crash": a fresh instance over the same path; batch 1 replays first
    per_batch2 = stream_cms(state_path=path, key="metric", on_result=on)
    per_batch2(_frame(spark, b2, "metric string"), 1)
    per_batch2(_frame(spark, b3, "metric string"), 2)
    want = sorted(
        map(tuple, cms_build(_frame(spark, rows, "metric string"), key="metric").collect())
    )
    assert results[2] == want


def test_stream_hll_restart_resumes_state_table(spark, tmp_path):
    """Same process-restart shape for the HLL rollup twin."""
    from datetime import datetime, timezone

    from trend_o_meter_spark.streaming.pipeline import stream_hll_rollup

    def ev(day, user):
        return ("m0", datetime(2024, 1, day, 12, 0, tzinfo=timezone.utc), user)

    b1 = [ev(1, u) for u in range(20)]
    b2 = [ev(2, u) for u in range(10, 30)]
    b3 = [ev(3, u) for u in range(25, 40)]
    schema = "event_type string, ts timestamp, user_id long"
    results = {}
    path = str(tmp_path / "sk")
    on = lambda bid, df: results.update({bid: {r["event_type"]: r["approx_users"] for r in df.collect()}})  # noqa: E731
    per_batch = stream_hll_rollup(state_path=path, on_result=on)
    per_batch(_frame(spark, b1, schema), 0)
    per_batch(_frame(spark, b2, schema), 1)
    per_batch2 = stream_hll_rollup(state_path=path, on_result=on)
    per_batch2(_frame(spark, b2, schema), 1)  # replay
    per_batch2(_frame(spark, b3, schema), 2)
    full = _frame(spark, b1 + b2 + b3, schema)
    want = {
        r["event_type"]: r["est"]
        for r in full.groupBy("event_type", F.date_trunc("day", "ts"))
        .agg(F.hll_sketch_agg("user_id").alias("__sk"))
        .groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("__sk")).alias("est"))
        .collect()
    }
    assert results[2] == want


def test_stream_cms_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: replaying a micro-batch (same
    batch_id, crash before checkpoint commit) must NOT double-count the
    additive CMS grid — the replayed partial overwrites its own
    partition instead of appending beside it."""
    from trend_o_meter_spark.operators.cms import cms_build
    from trend_o_meter_spark.streaming.pipeline import stream_cms

    rows = [("m%d" % (i % 5),) for i in range(150)]
    b1, b2 = rows[:100], rows[100:]
    results = {}
    per_batch = stream_cms(
        state_path=str(tmp_path / "grid"),
        key="metric",
        on_result=lambda bid, df: results.update({bid: sorted(map(tuple, df.collect()))}),
    )
    df1 = _frame(spark, b1, "metric string")
    df2 = _frame(spark, b2, "metric string")
    per_batch(df1, 0)
    per_batch(df2, 1)
    once = results[1]
    per_batch(df2, 1)  # replay of batch 1 after a simulated crash
    assert results[1] == once
    want = sorted(
        map(tuple, cms_build(_frame(spark, rows, "metric string"), key="metric").collect())
    )
    assert results[1] == want  # still equals the batch sketch of the union


def test_stream_trending_replay_is_idempotent(spark, tmp_path):
    """Same at-least-once contract for the additive trend counts."""
    from datetime import datetime, timedelta

    from trend_o_meter_spark.operators.trend import trending_counts
    from trend_o_meter_spark.streaming.pipeline import stream_trending

    day0 = datetime(2024, 1, 1, 6, 0)
    full = [
        ("hot", day0 + timedelta(days=d, seconds=i))
        for d, c in enumerate([2, 3, 2, 9])
        for i in range(c)
    ]
    b1 = [r for r in full if (r[1] - day0).days < 2]
    b2 = [r for r in full if (r[1] - day0).days >= 2]
    results = {}
    per_batch = stream_trending(
        state_path=str(tmp_path / "counts"),
        keys=("metric",),
        on_result=lambda bid, df: results.update({bid: sorted(map(tuple, df.collect()))}),
    )
    schema = "metric string, ts timestamp"
    per_batch(_frame(spark, b1, schema), 0)
    per_batch(_frame(spark, b2, schema), 1)
    per_batch(_frame(spark, b2, schema), 1)  # replay
    expected = sorted(map(tuple, trending_counts(_frame(spark, full, schema)).collect()))
    assert results[1] == expected


def test_stream_day_bins_state_bounded_on_long_run(spark, tmp_path):
    """A long-running stream (55 micro-batches) keeps BOTH the state
    table's file count and its row count flat: retention defaults to
    max(day_bins) days (reference F4, trend-o-meter:421-435) and
    periodic compaction folds the per-batch partitions into one culled
    base — per-batch cost stops growing O(#batches)."""
    from datetime import datetime, timedelta, timezone

    from trend_o_meter_spark.streaming.pipeline import stream_day_bins
    from trend_o_meter_spark.streaming.statestore import PartialStateTable

    base = datetime(2024, 3, 1, tzinfo=timezone.utc)
    results = {}
    state = str(tmp_path / "history")
    _, per_batch = stream_day_bins(
        # per_batch is driven directly (the downsample half has its own
        # tests); readings schema is irrelevant to the state contract
        _frame(spark, [], "metric string, ts timestamp, value double"),
        state_path=state,
        compact_every=10,
        on_result=lambda bid, df: results.update({bid: df.collect()}),
    )

    schema = "metric string, ts timestamp, value double"
    counts = []
    st = PartialStateTable(state)
    # 55 batches, one sample every 6h -> 13.7 days, ~2x the 7d horizon
    for i in range(55):
        df = _frame(
            spark, [("temperature", base + timedelta(hours=6 * i), float(i))], schema
        )
        per_batch(df, i)
        counts.append(st.file_count())
    # file count is bounded (compaction every 10 batches), not O(#batches)
    assert max(counts[40:]) <= max(counts[:20]) + 12
    assert counts[-1] < 30
    # retention: only samples within 7 days of the newest survive
    last = {r["day_bin"]: r for r in results[54]}
    n_total = sum(r["n_samples"] for r in last.values())
    assert n_total <= 29  # 7d / 6h + 1
    assert max(r["max_val"] for r in last.values()) == 54.0
    # oldest rows (values 0..25ish) are culled, newest kept
    assert min(r["min_val"] for r in last.values()) >= 25.0

    # replay of the last batch must not double its sample
    df54 = _frame(
        spark, [("temperature", base + timedelta(hours=6 * 54), 54.0)], schema
    )
    per_batch(df54, 54)
    replay = {r["day_bin"]: r for r in results[54]}
    assert sum(r["n_samples"] for r in replay.values()) == n_total


def test_statestore_recovers_mid_swap_crash(spark, tmp_path):
    """A crash between compaction's two renames leaves the table
    displaced at .__old__ (or fully rewritten at .__compact__); the next
    access must heal either state with no data loss."""
    import shutil
    from pathlib import Path

    from trend_o_meter_spark.streaming.statestore import _MARKER, PartialStateTable

    p = str(tmp_path / "state")
    st = PartialStateTable(p)
    st.append(_frame(spark, [(1, 10)], "k int, v int"), 0)
    st.append(_frame(spark, [(2, 20)], "k int, v int"), 1)

    # crash state A: src moved away, rewrite incomplete (no marker)
    shutil.move(p, p + ".__old__")
    assert {r["k"] for r in st.read(spark).collect()} == {1, 2}

    # crash state B: src moved away, rewrite COMPLETE (marker present)
    st.compact(spark)
    shutil.move(p, p + ".__compact__")
    assert (Path(p + ".__compact__") / _MARKER).exists()
    assert {r["k"] for r in st.read(spark).collect()} == {1, 2}
    # healed: normal appends keep working
    st.append(_frame(spark, [(3, 30)], "k int, v int"), 2)
    assert {r["k"] for r in st.read(spark).collect()} == {1, 2, 3}


def test_statestore_reseed_preserves_compacted_live_state(spark, tmp_path):
    """Re-seeding after a compaction must replace ONLY the backfill —
    live micro-batch rows already folded into the base survive (the
    seed lives in its own partition, never in the fold)."""
    from trend_o_meter_spark.streaming.statestore import PartialStateTable

    st = PartialStateTable(str(tmp_path / "state"))
    st.seed(_frame(spark, [("seed1", 0)], "k string, v int"))
    st.append(_frame(spark, [("live", 1)], "k string, v int"), 0)
    st.compact(spark)  # folds the live partition into the base
    st.seed(_frame(spark, [("seed2", 2)], "k string, v int"))
    got = {r["k"] for r in st.read(spark).collect()}
    assert got == {"seed2", "live"}  # old backfill replaced, live kept


def test_statestore_compact_transform_spares_the_seed(spark, tmp_path):
    """The retention transform folds/culls live rows only — the seed
    partition rides through compaction untouched (an anchor-relative
    cull over the backfill alone would anchor on the wrong frontier;
    the pipeline culls it logically at read instead)."""
    from pyspark.sql import functions as F

    from trend_o_meter_spark.streaming.statestore import PartialStateTable

    st = PartialStateTable(str(tmp_path / "state"))
    st.seed(_frame(spark, [("old_seed", 1), ("new_seed", 9)], "k string, v int"))
    st.append(_frame(spark, [("old_live", 2), ("new_live", 8)], "k string, v int"), 0)
    st.compact(spark, transform=lambda df: df.filter(F.col("v") >= 5))
    got = {r["k"] for r in st.read(spark).collect()}
    assert got == {"old_seed", "new_seed", "new_live"}  # live culled, seed intact


def test_statestore_schema_cache_invalidated_by_widening_append(spark, tmp_path):
    """The read fast path reuses the merged schema cached on first read
    (round 14: the per-batch mergeSchema footer-merge job cost ~40% of
    the stream_rfm re-score); a widening append must invalidate it so
    the new column is visible, and pre-widening partitions must read as
    nulls in the widened schema either way."""
    from trend_o_meter_spark.streaming.statestore import PartialStateTable

    st = PartialStateTable(str(tmp_path / "state"))
    st.append(_frame(spark, [("a", 1)], "k string, v int"), 0)
    assert {tuple(r) for r in st.read(spark).collect()} == {("a", 1)}
    assert st._schema is not None  # cache populated by the first read
    # same-schema append keeps the cache (fast path)
    st.append(_frame(spark, [("b", 2)], "k string, v int"), 1)
    assert st._schema is not None
    got = {tuple(r) for r in st.read(spark).select("k", "v").collect()}
    assert got == {("a", 1), ("b", 2)}
    # widening append drops the cache; next read re-merges and sees the
    # new column, with old partitions as nulls
    st.append(
        _frame(spark, [("c", 3, 30)], "k string, v int, n int"), 2
    )
    assert st._schema is None
    rows = {(r["k"], r["v"], r["n"]) for r in st.read(spark).collect()}
    assert rows == {("a", 1, None), ("b", 2, None), ("c", 3, 30)}


def test_statestore_schema_cache_follows_compaction_and_type_change(spark, tmp_path):
    """The cached read schema must not outlive the schema on disk: a
    compaction whose transform widens the table, and a replayed batch
    that rewrites a column under a new type, are both visible on the
    next read.  A non-null write of an unchanged column keeps the cache
    (parquet reads every column back as nullable)."""
    from pyspark.sql import functions as F

    from trend_o_meter_spark.streaming.statestore import PartialStateTable

    st = PartialStateTable(str(tmp_path / "state"))
    st.append(_frame(spark, [("a", 1)], "k string, v int"), 0)
    assert {tuple(r) for r in st.read(spark).collect()} == {("a", 1)}
    st.compact(spark, transform=lambda df: df.withColumn("n", F.lit(7)))
    assert {tuple(r) for r in st.read(spark).collect()} == {("a", 1, 7)}
    st.append(spark.range(1).select(F.lit("b").alias("k"), F.lit(2).alias("v"),
                                    F.lit(8).alias("n")), 1)
    assert st._schema is not None  # same fields, only non-null: fast path kept
    assert {tuple(r) for r in st.read(spark).collect()} == {("a", 1, 7), ("b", 2, 8)}

    st2 = PartialStateTable(str(tmp_path / "state2"))
    st2.append(_frame(spark, [("a", 1)], "k string, v int"), 0)
    assert st2.read(spark).schema["v"].dataType.simpleString() == "int"
    # the replay of batch 0 rewrites its only partition with v as a string
    st2.append(_frame(spark, [("a", "x")], "k string, v string"), 0)
    out = st2.read(spark)
    assert out.schema["v"].dataType.simpleString() == "string"
    assert {tuple(r) for r in out.collect()} == {("a", "x")}


def test_statestore_property_read_matches_model(spark, tmp_path):
    """Property test over the statestore's op algebra (the per-family
    hypothesis discipline, driven here by a deterministic op matrix for
    Spark-session economy): any interleaving of append / last-batch
    replay / compact / compact-with-exclusion must keep

    * ``read()`` == the union of every batch's latest write, and
    * ``read(exclude_batch=last)`` == that union minus the last batch —
      valid until a PLAIN compact folds the last batch into the base
      (the exact hazard ``compact(exclude_batch=...)`` exists to avoid).
    """
    from trend_o_meter_spark.streaming.statestore import PartialStateTable

    op_sequences = [
        ["append", "append", "compact_excl", "replay", "append"],
        ["append", "replay", "compact", "append", "compact_excl"],
        ["append", "compact", "compact", "append", "replay"],
        ["append", "append", "replay", "compact_excl", "compact_excl"],
        ["append", "compact_excl", "append", "append", "compact"],
    ]
    for si, ops in enumerate(op_sequences):
        st = PartialStateTable(str(tmp_path / f"state{si}"))
        model: dict[int, set[str]] = {}
        next_bid = 0
        last_bid = -1
        last_folded = False

        def write(bid: int, tag: str) -> None:
            rows = {f"b{bid}_{tag}_{i}" for i in range(2)}
            model[bid] = rows
            st.append(
                _frame(spark, [(r,) for r in sorted(rows)], "k string"), bid
            )

        for op in ops:
            if op == "append":
                write(next_bid, "v1")
                last_bid, last_folded = next_bid, False
                next_bid += 1
            elif op == "replay" and last_bid >= 0:
                write(last_bid, "v2")  # overwrite: latest write wins
            elif op == "compact":
                st.compact(spark)
                last_folded = True
            elif op == "compact_excl" and last_bid >= 0:
                st.compact(spark, exclude_batch=last_bid)
            want_all = set().union(*model.values()) if model else set()
            state = st.read(spark)
            got = {r["k"] for r in state.collect()} if state is not None else set()
            assert got == want_all, (si, op)
            if last_bid >= 0 and not last_folded:
                prior = st.read(spark, exclude_batch=last_bid)
                got_prior = {r["k"] for r in prior.collect()} if prior is not None else set()
                assert got_prior == want_all - model[last_bid], (si, op)


def test_statestore_exclude_batch_on_read_and_compact(spark, tmp_path):
    """Pipelines whose partial depends on carried state read the prior
    with exclude_batch=batch_id so an at-least-once replay sees exactly
    what the first attempt saw — and a compaction firing ON the replayed
    batch must hold that partition out of the fold (once in the base no
    read-side filter could remove it), copying it through above the
    watermark so the re-append still overwrites it."""
    from trend_o_meter_spark.streaming.statestore import PartialStateTable

    st = PartialStateTable(str(tmp_path / "state"))
    st.append(_frame(spark, [("carried", 0)], "k string, b int"), 0)
    st.append(_frame(spark, [("own_write", 1)], "k string, b int"), 1)

    # prior-read for a replay of batch 1: its own write is invisible
    got = {r["k"] for r in st.read(spark, exclude_batch=1).collect()}
    assert got == {"carried"}
    # plain read (the post-append report path) still sees everything
    assert {r["k"] for r in st.read(spark).collect()} == {"carried", "own_write"}

    # compaction on the replayed batch: partition 1 held out of the fold
    st.compact(spark, exclude_batch=1)
    assert st._watermark() == 0  # capped below the held partition
    got = {r["k"] for r in st.read(spark, exclude_batch=1).collect()}
    assert got == {"carried"}  # base holds only the fold of batch 0
    # held partition still live and still overwritable by the re-append
    assert {r["k"] for r in st.read(spark).collect()} == {"carried", "own_write"}
    st.append(_frame(spark, [("replayed", 1)], "k string, b int"), 1)
    assert {r["k"] for r in st.read(spark).collect()} == {"carried", "replayed"}

    # ADVICE r09: exclude_batch at or below the ALREADY-ADVANCED
    # watermark (the batch was folded into the base by an earlier,
    # exclusion-free compaction) cannot be held out — capping would
    # regress the watermark and resurrect superseded partitions.  Must
    # fail loudly, leaving state intact.
    st.compact(spark)  # fold everything: watermark -> 1
    assert st._watermark() == 1
    with pytest.raises(ValueError, match="regress the watermark"):
        st.compact(spark, exclude_batch=1)
    assert st._watermark() == 1  # unchanged
    assert {r["k"] for r in st.read(spark).collect()} == {"carried", "replayed"}


def test_stream_day_bins_with_non_default_column_names(spark, tmp_path):
    """stream_day_bins with metric='sensor', ts='t', value='v' must run
    end-to-end: the downsample canonicalizes its output columns, and
    everything downstream of the state table (retention cull, day-bin
    aggregation, seed partition) must use the canonical names — a
    caller's names used to crash the per-batch recompute."""
    import json as _json

    from trend_o_meter_spark.streaming.pipeline import seed_history, stream_day_bins

    in_dir = tmp_path / "in"; in_dir.mkdir()
    rows = [
        {"t": BASE + i * 3600, "sensor": "m0", "v": float(i)} for i in range(48)
    ]
    (in_dir / "b0.json").write_text("\n".join(_json.dumps(r) for r in rows))
    state = str(tmp_path / "state")

    backfill = _frame(
        spark, [(F_ts, "m0", 1.0) for F_ts in range(BASE - 86400, BASE - 86000, 120)],
        "t long, sensor string, v double",
    ).withColumn("t", F.timestamp_seconds(F.col("t")))
    seed_history(backfill, state_path=state, ts="t", value="v", metric="sensor")

    stream = (
        spark.readStream.schema("t long, sensor string, v double")
        .json(str(in_dir))
        .withColumn("t", F.timestamp_seconds(F.col("t")))
    )
    results = {}
    kept, fn = stream_day_bins(
        stream, state_path=state, ts="t", value="v", metric="sensor",
        on_result=lambda bid, df: results.update({bid: df.collect()}),
    )
    q = (
        kept.writeStream.foreachBatch(fn)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert results, "no batch result produced"
    last = results[max(results)]
    assert len(last) > 0  # day-bin rows rendered from canonical state
    assert {r["metric"] for r in last} == {"m0"}


def test_stream_histogram_equals_batch_sketch_and_quantiles(spark, tmp_path):
    """The streaming histogram (per-batch partial bins, count-sum merge)
    must be bit-identical to the batch sketch over the union, and the
    quantiles computed from it must match the batch path AND sit within
    bin_width of the exact percentile (the sketch's hard guarantee)."""
    from trend_o_meter_spark.operators.histogram import (
        histogram_quantiles,
        histogram_sketch,
    )
    from trend_o_meter_spark.streaming.pipeline import stream_histogram

    vals = [float(i % 97) + 0.25 for i in range(400)] + [250.5] * 40
    b1, b2 = vals[:250], vals[250:]
    results = {}
    per_batch = stream_histogram(
        state_path=str(tmp_path / "hist"),
        on_result=lambda bid, df: results.update({bid: sorted(map(tuple, df.collect()))}),
    )
    per_batch(_frame(spark, [(v,) for v in b1], "value double"), 0)
    per_batch(_frame(spark, [(v,) for v in b2], "value double"), 1)

    full = _frame(spark, [(v,) for v in vals], "value double")
    want = sorted(map(tuple, histogram_sketch(full).collect()))
    assert results[1] == want

    merged = _frame(
        spark, [tuple(r) for r in results[1]], "bin long, cnt long"
    )
    got = {r["q"]: r["quantile_est"] for r in histogram_quantiles(merged).collect()}
    batch = {
        r["q"]: r["quantile_est"]
        for r in histogram_quantiles(histogram_sketch(full)).collect()
    }
    assert got == batch
    exact = {
        q: sorted(vals)[int(q * (len(vals) - 1))] for q in (0.25, 0.5, 0.9, 0.99)
    }
    for q, est in got.items():
        assert abs(est - exact[q]) <= 1.0, (q, est, exact[q])


def test_stream_histogram_replay_is_idempotent(spark, tmp_path):
    """Re-delivering a batch id (at-least-once replay) must not double
    any bin count — additive state under the PartialStateTable contract."""
    from trend_o_meter_spark.streaming.pipeline import stream_histogram

    results = {}
    per_batch = stream_histogram(
        state_path=str(tmp_path / "hist"),
        on_result=lambda bid, df: results.update({bid: sorted(map(tuple, df.collect()))}),
    )
    b = _frame(spark, [(1.5,), (1.7,), (9.2,)], "value double")
    per_batch(b, 0)
    first = results[0]
    per_batch(b, 0)  # replay
    assert results[0] == first


def test_stream_moments_equals_batch_sketch_and_replay_safe(spark, tmp_path):
    """The streaming moments sketch (per-batch partial power sums, keyed
    addition) must be bit-identical to the batch sketch over the union —
    including after an at-least-once REPLAY of a micro-batch (the
    additive-state hazard: a re-appended partial would double its sums
    without the idempotent state table)."""
    from trend_o_meter_spark.operators.moments import moments_sketch, moments_stats
    from trend_o_meter_spark.streaming.pipeline import stream_moments

    rows = [("m%d" % (i % 3), round((i % 53) * 0.13, 2)) for i in range(300)]
    b1, b2 = rows[:180], rows[180:]
    results = {}
    per_batch = stream_moments(
        state_path=str(tmp_path / "mom"),
        keys=("k",),
        on_result=lambda bid, df: results.update({bid: sorted(map(tuple, df.collect()))}),
    )
    schema = "k string, value double"
    per_batch(_frame(spark, b1, schema), 0)
    per_batch(_frame(spark, b2, schema), 1)
    per_batch(_frame(spark, b2, schema), 1)  # at-least-once replay

    full = _frame(spark, rows, schema)
    want = sorted(map(tuple, moments_sketch(full, keys=("k",)).collect()))
    assert results[1] == want

    merged = _frame(
        spark, [tuple(r) for r in results[1]],
        "k string, n long, s1 decimal(38,0), s2 decimal(38,0), "
        "s3 decimal(38,0), s4 decimal(38,0)",
    )
    got = sorted(map(tuple, moments_stats(merged, keys=("k",)).collect()))
    batch = sorted(
        map(tuple, moments_stats(moments_sketch(full, keys=("k",)), keys=("k",)).collect())
    )
    assert got == batch


def test_stream_kmv_equals_batch_sketch_and_replay_safe(spark, tmp_path):
    """The streaming KMV sketch (per-batch partials, k-smallest-of-union
    merge) must be bit-identical to the batch sketch over the union —
    including after an at-least-once replay (the merge is idempotent,
    and the state table guards the file-level bookkeeping)."""
    from trend_o_meter_spark.operators.theta import kmv_sketch
    from trend_o_meter_spark.streaming.pipeline import stream_kmv

    rows = [("t%d" % (i % 4), (i * 13) % 211) for i in range(600)]
    b1, b2 = rows[:350], rows[350:]
    results = {}
    per_batch = stream_kmv(
        state_path=str(tmp_path / "kmv"),
        keys=("k",),
        id_col="uid",
        k=16,
        on_result=lambda bid, df: results.update(
            {bid: sorted((r["k"], tuple(r["kmv"])) for r in df.collect())}
        ),
    )
    schema = "k string, uid long"
    per_batch(_frame(spark, b1, schema), 0)
    per_batch(_frame(spark, b2, schema), 1)
    per_batch(_frame(spark, b2, schema), 1)  # replay

    full = _frame(spark, rows, schema)
    want = sorted(
        (r["k"], tuple(r["kmv"]))
        for r in kmv_sketch(full, keys=("k",), id_col="uid", k=16).collect()
    )
    assert results[1] == want


def test_stream_bloom_equals_batch_filter(spark, tmp_path):
    """The streaming Bloom filter (per-batch partial set-bit rows,
    union-distinct merge) must be bit-identical to the batch filter over
    the union, and a REPLAYED batch (at-least-once delivery) must not
    change it — the idempotence contract, live."""
    from trend_o_meter_spark.operators.bloom import bloom_build, bloom_probe
    from trend_o_meter_spark.streaming.pipeline import stream_bloom

    rows = [("t%d" % (i % 3), "u%d" % i) for i in range(120)]
    b1, b2 = rows[:70], rows[70:]
    schema = "event_type string, user_id string"
    results = {}
    per_batch = stream_bloom(
        state_path=str(tmp_path / "bits"),
        keys=("event_type",),
        key="user_id",
        on_result=lambda bid, df: results.update(
            {bid: sorted(map(tuple, df.collect()))}
        ),
    )
    per_batch(_frame(spark, b1, schema), 0)
    per_batch(_frame(spark, b2, schema), 1)
    # at-least-once: batch 1 re-delivered under the same id
    per_batch(_frame(spark, b2, schema), 1)

    full = _frame(spark, rows, schema)
    want = sorted(
        map(tuple, bloom_build(full, key="user_id", keys=("event_type",)).collect())
    )
    assert results[1] == want
    # and the merged live filter has no false negatives on the members
    merged = _frame(
        spark, [tuple(r) for r in results[1]], "event_type string, pos bigint"
    )
    probed = bloom_probe(
        merged,
        full.select("event_type", "user_id").distinct(),
        key="user_id",
        keys=("event_type",),
    )
    assert probed.filter("NOT maybe_present").count() == 0


def test_stream_seasonal_profile_equals_batch_and_replay_safe(spark, tmp_path):
    """The streaming seasonal profile (per-(key, phase) decimal-sum +
    count partials) must be BIT-IDENTICAL to the batch phase-mean
    profile over the union — decimal addition is associative — and an
    at-least-once replay must not double a partial's sums."""
    from trend_o_meter_spark.operators.trend import seasonal_decompose
    from trend_o_meter_spark.streaming.pipeline import stream_seasonal_profile

    base = 1_700_000_000
    rows = [
        ("m%d" % (i % 2), float(base + i * 1800), round(10.0 + (i % 24) * 0.37, 2))
        for i in range(400)
    ]
    schema = "k string, epoch double, value double"

    def _df(rs):
        return (
            _frame(spark, rs, schema)
            .select("k", F.timestamp_seconds("epoch").alias("ts"), "value")
        )

    b1, b2 = rows[:250], rows[250:]
    results = {}
    per_batch = stream_seasonal_profile(
        state_path=str(tmp_path / "seas"),
        keys=("k",),
        on_result=lambda bid, df: results.update({bid: sorted(map(tuple, df.collect()))}),
    )
    per_batch(_df(b1), 0)
    per_batch(_df(b2), 1)
    per_batch(_df(b2), 1)  # at-least-once replay

    want = sorted(
        map(
            tuple,
            seasonal_decompose(_df(rows), keys=("k",))
            .select("k", "phase", "seasonal")
            .distinct()
            .collect(),
        )
    )
    assert results[1] == want

    # restart: a fresh closure over the same state path resumes exactly
    per_batch2 = stream_seasonal_profile(
        state_path=str(tmp_path / "seas"),
        keys=("k",),
        on_result=lambda bid, df: results.update({bid: sorted(map(tuple, df.collect()))}),
    )
    per_batch2(_df([]), 2)
    assert results[2] == want


def test_stream_mad_estimates_within_bound_and_flags(spark, tmp_path):
    """The streaming MAD monitor's sketch-backed estimates must land
    within the documented 3*bin_width of the exact median/MAD over the
    union (replay- and restart-safe), and flagged rows must be exactly
    the current batch's |modified z| > threshold rows under those
    estimates — including the MAD=0 key reporting NULL z, never a
    division blow-up."""
    from pyspark.sql import functions as SF

    from trend_o_meter_spark.streaming.pipeline import stream_mad

    base = 1_700_000_000
    rows = [
        ("a", float(base + i * 60), float((i * 7) % 40))  # spread key
        for i in range(300)
    ] + [
        ("c", float(base + i * 60), 5.0)  # constant key: MAD = 0
        for i in range(50)
    ]
    outlier = ("a", float(base + 999_000), 1000.0)
    schema = "k string, epoch double, value double"

    def _df(rs):
        return (
            _frame(spark, rs, schema)
            .select("k", SF.timestamp_seconds("epoch").alias("ts"), "value")
        )

    b1, b2 = rows[:200], rows[200:] + [outlier]
    profiles, flagged = {}, {}
    kw = dict(
        state_path=str(tmp_path / "mad"),
        keys=("k",),
        bin_width=0.5,
        z_threshold=3.5,
        on_profile=lambda bid, df: profiles.update(
            {bid: {r["k"]: (r["med_est"], r["mad_est"]) for r in df.collect()}}
        ),
        on_result=lambda bid, df: flagged.update(
            {bid: sorted((r["k"], r["value"]) for r in df.collect())}
        ),
    )
    per_batch = stream_mad(**kw)
    per_batch(_df(b1), 0)
    per_batch(_df(b2), 1)
    per_batch(_df(b2), 1)  # at-least-once replay: estimates unchanged

    # exact median/MAD via two passes for the accuracy bound
    full = _df(rows + [outlier])
    med_df = full.groupBy("k").agg(SF.percentile("value", SF.lit(0.5)).alias("med"))
    mad_df = (
        full.join(med_df, "k")
        .groupBy("k")
        .agg(
            SF.first("med").alias("med"),
            SF.percentile(SF.abs(SF.col("value") - SF.col("med")), SF.lit(0.5)).alias("mad"),
        )
    )
    exact = {r["k"]: (r["med"], r["mad"]) for r in mad_df.collect()}

    got = profiles[1]
    for k in ("a", "c"):
        assert abs(got[k][0] - exact[k][0]) <= 3 * 0.5, (k, got[k], exact[k])
        assert abs(got[k][1] - exact[k][1]) <= 3 * 0.5, (k, got[k], exact[k])
    # constant key: true MAD is 0; the estimate carries only the
    # within-bin uniform-placement offset (< one bin), never more
    assert 0.0 <= got["c"][1] < 0.5

    # the wild outlier in batch 1 is flagged; the constant key never is
    # (its values sit at the median, |z| << threshold; and if mad_est
    # ever interpolates to exactly 0 the nullif guard yields NULL z)
    assert ("a", 1000.0) in flagged[1]
    assert all(k != "c" for k, _ in flagged[1])

    # restart: a fresh closure on the same path sees identical estimates
    profiles2 = {}
    kw2 = dict(kw, on_profile=lambda bid, df: profiles2.update(
        {bid: {r["k"]: (r["med_est"], r["mad_est"]) for r in df.collect()}}
    ))
    per_batch2 = stream_mad(**kw2)
    per_batch2(_df([]), 2)
    assert profiles2[2] == profiles[1]

def test_stream_theil_sen_equals_batch_and_replay_safe(spark, tmp_path):
    """The streaming Theil-Sen snapshot (per-(key, bucket) decimal-sum
    + count partials -> the batch estimator core) must be BIT-IDENTICAL
    to the batch operator over the union, survive an at-least-once
    replay, and resume exactly across a restart."""
    from trend_o_meter_spark.operators.trend import theil_sen_slope
    from trend_o_meter_spark.streaming.pipeline import stream_theil_sen

    base = 1_700_000_000
    # two keys: one rising ~0.5/hour with wobble, one flat with a wild
    # contaminated bucket the median-of-slopes must shrug off
    rows = [
        ("up", float(base + i * 1800), 10.0 + i * 0.25 + (0.9 if i % 7 == 0 else 0.0))
        for i in range(300)
    ] + [
        ("flat", float(base + i * 1800), 5.0 + (500.0 if 40 <= i < 44 else 0.0))
        for i in range(300)
    ]
    schema = "k string, epoch double, value double"

    def _df(rs):
        return _frame(spark, rs, schema).select(
            "k", F.timestamp_seconds("epoch").alias("ts"), "value"
        )

    b1, b2 = rows[:200] + rows[300:400], rows[200:300] + rows[400:]
    results = {}
    kw = dict(
        state_path=str(tmp_path / "ts_state"),
        keys=("k",),
        bucket_seconds=21600,
        on_result=lambda bid, df: results.update(
            {bid: sorted(map(tuple, df.collect()))}
        ),
    )
    per_batch = stream_theil_sen(**kw)
    per_batch(_df(b1), 0)
    per_batch(_df(b2), 1)
    per_batch(_df(b2), 1)  # at-least-once replay: partials not doubled

    want = sorted(
        map(
            tuple,
            theil_sen_slope(_df(rows), keys=("k",), bucket_seconds=21600).collect(),
        )
    )
    assert results[1] == want
    # the mid-batch snapshot is a genuine prefix answer, not the union
    assert results[0] != want

    # restart: a fresh closure over the same state path resumes exactly
    per_batch2 = stream_theil_sen(**kw)
    per_batch2(_df([]), 2)
    assert results[2] == want


def test_stream_cusum_accumulates_across_batches(spark, stream_dirs):
    """The live CUSUM's accumulator must survive the micro-batch
    boundary — a persistent small shift whose evidence is split across
    batches alarms exactly where the batch recursion says (state-store
    carry), with uncalibrated metrics passed through as nulls."""
    from trend_o_meter_spark.streaming.stateful import stream_cusum

    in_dir, ckpt = stream_dirs
    med, mad = 10.0, 0.4  # k = 0.2, h = 1.6; y = 10.5 adds 0.3/sample
    offs = list(range(0, 40, 5))  # 8 samples, alarm due at the 6th
    batches = [
        [_sensor(o, temperature=10.5, humidity=1.0) for o in offs[:4]],
        [_sensor(o, temperature=10.5) for o in offs[4:]],
    ]
    out = _run_batches(
        spark,
        in_dir,
        ckpt,
        lambda raw: stream_cusum(
            decode_sensor_stream(raw).filter(F.col("corrupt").isNull()),
            params={"temperature": (med, mad)},
        ),
        batches,
        "cusum_stream_out",
    )
    temp = sorted(
        (r for r in out.collect() if r["metric"] == "temperature"),
        key=lambda r: r["ts"],
    )
    assert len(temp) == 8
    # hand recursion with the same frozen calibration
    sp, want = 0.0, []
    for _ in offs:
        spr = max(0.0, sp + ((10.5 - med) - 0.5 * mad))
        alarm = spr > 4.0 * mad
        want.append((round(spr * 1e9) / 1e9, alarm))
        sp = 0.0 if alarm else spr
    assert [(r["s_pos"], r["alarm"]) for r in temp] == want
    # the alarm lands in batch 2 on accumulated cross-batch evidence
    alarms = [i for i, r in enumerate(temp) if r["alarm"]]
    assert alarms == [5]
    assert temp[5]["direction"] == "up" and temp[5]["s_neg"] == 0.0

    hum = [r for r in out.collect() if r["metric"] == "humidity"]
    assert hum and all(
        r["s_pos"] is None and r["alarm"] is None and r["direction"] is None
        for r in hum
    )


def test_stream_holt_winters_equals_batch_across_batches(spark, stream_dirs):
    """The live Holt-Winters state (level/trend/24-slot seasonal array)
    must survive the micro-batch boundary: an in-order replay split
    across batches reproduces the batch operator's scan over the union
    bit-for-bit, including the adaptive seasonal slots."""
    import math

    from trend_o_meter_spark.operators.trend import holt_winters
    from trend_o_meter_spark.streaming.stateful import stream_holt_winters

    period, bucket = 4 * 3600, 3600
    offs = list(range(0, 40 * 3600, 1800))  # 80 samples, 20 periods
    vals = [
        round(10.0 + 2.5 * math.sin((o % period) / period * 2 * math.pi) + 0.01 * i, 4)
        for i, o in enumerate(offs)
    ]
    msgs = [_sensor(o, temperature=v) for o, v in zip(offs, vals)]
    in_dir, ckpt = stream_dirs
    out = _run_batches(
        spark,
        in_dir,
        ckpt,
        lambda raw: stream_holt_winters(
            decode_sensor_stream(raw).filter(F.col("corrupt").isNull()),
            period_seconds=period,
            bucket_seconds=bucket,
            watermark="100 hours",  # in-order replay; nothing is late
        ),
        [msgs[:30], msgs[30:55], msgs[55:]],
        "hw_stream_out",
    )
    got = sorted(
        ((r["ts"], r["level"], r["trend"], r["seasonal"]) for r in out.collect()),
    )
    batch_df = _frame(
        spark, [(float(BASE + o), "temperature", v) for o, v in zip(offs, vals)],
        "epoch double, metric string, value double",
    ).select("metric", F.timestamp_seconds("epoch").alias("ts"), "value")
    want = sorted(
        (r["ts"], r["level"], r["trend"], r["seasonal"])
        for r in holt_winters(
            batch_df, keys=("metric",), period_seconds=period, bucket_seconds=bucket
        ).collect()
    )
    assert got == want


def test_stream_holt_winters_state_survives_restart(spark, stream_dirs):
    import math

    from trend_o_meter_spark.operators.trend import holt_winters
    from trend_o_meter_spark.streaming.stateful import stream_holt_winters

    period, bucket = 4 * 3600, 3600
    offs = list(range(0, 20 * 3600, 1800))  # 40 samples
    vals = [round(5.0 + ((i % 8) - 3.5) * 0.8, 4) for i in range(len(offs))]
    msgs = [_sensor(o, temperature=v) for o, v in zip(offs, vals)]
    in_dir, ckpt = stream_dirs
    in_dir.mkdir(parents=True, exist_ok=True)
    transform = lambda r: stream_holt_winters(  # noqa: E731
        decode_sensor_stream(r).filter(F.col("corrupt").isNull()),
        period_seconds=period,
        bucket_seconds=bucket,
        watermark="100 hours",
    )
    seen: list[tuple[int, tuple]] = []

    def start(run):
        return (
            transform(_read_text_stream(spark, in_dir))
            .writeStream.foreachBatch(
                lambda bdf, bid: seen.extend(
                    (run, (r["ts"], r["level"], r["trend"], r["seasonal"]))
                    for r in bdf.collect()
                )
            )
            .outputMode("append")
            .option("checkpointLocation", str(ckpt))
            .start()
        )

    q1 = start(1)
    _write_batch(in_dir / "b0.json", msgs[:25])
    q1.processAllAvailable()
    q1.stop()
    # new data lands while "down"; the restarted query must resume the
    # level/trend/seasonal-array state from the checkpoint
    _write_batch(in_dir / "b1.json", msgs[25:])
    q2 = start(2)
    q2.processAllAvailable()
    q2.stop()
    got = sorted(t for run, t in seen if run == 2)
    batch_df = _frame(
        spark, [(float(BASE + o), "temperature", v) for o, v in zip(offs, vals)],
        "epoch double, metric string, value double",
    ).select("metric", F.timestamp_seconds("epoch").alias("ts"), "value")
    full = sorted(
        (r["ts"], r["level"], r["trend"], r["seasonal"])
        for r in holt_winters(
            batch_df, keys=("metric",), period_seconds=period, bucket_seconds=bucket
        ).collect()
    )
    # the restarted query's memory sink only holds the post-restart rows
    assert got == full[25:]


def test_stream_psi_tracks_drift_and_is_replay_safe(spark, tmp_path):
    """The live PSI matches a naive model over the accumulated stream at
    every batch (frozen reference), a replayed partial does not double
    the counts, and a restart resumes the state exactly."""
    import math

    from trend_o_meter_spark.streaming.pipeline import stream_psi

    ref = {0: 50, 32: 30, 64: 20}  # frozen training distribution
    # b1 mirrors the reference proportions (PSI ~ 0); b2 is new mass
    b1 = [0.0 + i % 20 for i in range(50)] + [40.0] * 30 + [70.0] * 20
    b2 = [100.0 + i % 10 for i in range(60)]
    results = {}
    kw = dict(
        state_path=str(tmp_path / "psi"),
        ref_counts=ref,
        bin_width=32,
        on_result=lambda bid, df: results.update(
            {bid: {r["bin_lo"]: r for r in df.collect()}}
        ),
    )

    def _df(vals):
        return _frame(spark, [(float(v),) for v in vals], "value double")

    per_batch = stream_psi(**kw)
    per_batch(_df(b1), 0)
    per_batch(_df(b2), 1)
    per_batch(_df(b2), 1)  # at-least-once replay

    def model(live_vals):
        nref = sum(ref.values())
        live: dict[int, int] = {}
        for v in live_vals:
            live[int(v // 32) * 32] = live.get(int(v // 32) * 32, 0) + 1
        nl = sum(live.values())
        total = 0
        terms = {}
        for lo in sorted(set(ref) | set(live)):
            p = max(ref.get(lo, 0) / nref, 1e-4)
            q = max(live.get(lo, 0) / nl, 1e-4)
            t = (p - q) * math.log(p / q)
            tq = math.floor(t * 1e6 + 0.5) if t >= 0 else -math.floor(-t * 1e6 + 0.5)
            terms[lo] = tq / 1e6
            total += tq
        return terms, total / 1e6

    for bid, vals in ((0, b1), (1, b1 + b2)):
        terms, total = model(vals)
        got = results[bid]
        assert set(got) == set(terms)
        for lo, t in terms.items():
            assert got[lo]["psi_term"] == t
            assert got[lo]["psi_total"] == total
    # drift raises PSI
    assert results[1][0]["psi_total"] > results[0][0]["psi_total"]

    # restart: fresh closure on the same state path resumes exactly
    results2 = {}
    kw2 = dict(kw, on_result=lambda bid, df: results2.update(
        {bid: {r["bin_lo"]: r["psi_total"] for r in df.collect()}}
    ))
    per_batch2 = stream_psi(**kw2)
    per_batch2(_df([]), 2)
    assert set(results2[2].values()) == {results[1][0]["psi_total"]}


def test_stream_trend_slope_and_correlation_equal_batch(spark, tmp_path):
    """Both additive-sums twins must be BIT-identical to their batch
    operators over the union (decimal/integer partial addition is
    associative), replay- and restart-safe."""
    import math

    from trend_o_meter_spark.operators.trend import metric_correlation, trend_slope
    from trend_o_meter_spark.streaming.pipeline import (
        stream_metric_correlation,
        stream_trend_slope,
    )

    base = 1_700_000_000
    rows = []
    for i in range(240):
        t = float(base + i * 600)
        rows.append(("a", t, round(10.0 + 0.02 * i + 0.5 * math.sin(i / 3.0), 4)))
        rows.append(("b", t, round(50.0 - 0.01 * i + 0.3 * math.cos(i / 5.0), 4)))
    schema = "k string, epoch double, value double"

    def _df(rs):
        return _frame(spark, rs, schema).select(
            "k", F.timestamp_seconds("epoch").alias("ts"), "value"
        )

    b1, b2 = rows[:300], rows[300:]

    slopes = {}
    per_s = stream_trend_slope(
        state_path=str(tmp_path / "slope"),
        keys=("k",),
        bucket_seconds=86400,
        on_result=lambda bid, df: slopes.update({bid: sorted(map(tuple, df.collect()))}),
    )
    per_s(_df(b1), 0)
    per_s(_df(b2), 1)
    per_s(_df(b2), 1)  # replay
    want_s = sorted(
        map(tuple, trend_slope(_df(rows), keys=("k",), bucket_seconds=86400).collect())
    )
    assert slopes[1] == want_s

    corrs = {}
    per_c = stream_metric_correlation(
        state_path=str(tmp_path / "corr"),
        metric_col="k",
        on_result=lambda bid, df: corrs.update({bid: sorted(map(tuple, df.collect()))}),
    )
    per_c(_df(b1), 0)
    per_c(_df(b2), 1)
    per_c(_df(b2), 1)  # replay
    want_c = sorted(
        map(tuple, metric_correlation(_df(rows), metric_col="k").collect())
    )
    assert corrs[1] == want_c
    assert corrs[0] != want_c  # mid-stream snapshot is a genuine prefix

    # restart both on the same paths
    per_s2 = stream_trend_slope(
        state_path=str(tmp_path / "slope"),
        keys=("k",),
        bucket_seconds=86400,
        on_result=lambda bid, df: slopes.update({bid: sorted(map(tuple, df.collect()))}),
    )
    per_s2(_df([]), 2)
    assert slopes[2] == want_s
    per_c2 = stream_metric_correlation(
        state_path=str(tmp_path / "corr"),
        metric_col="k",
        on_result=lambda bid, df: corrs.update({bid: sorted(map(tuple, df.collect()))}),
    )
    per_c2(_df([]), 2)
    assert corrs[2] == want_c


def test_stream_label_balance_equals_batch_and_replay_safe(spark, tmp_path):
    """The live class-balance report must be BIT-identical to the batch
    report over the union at every snapshot, replay- and restart-safe;
    a collapsing minority class flips below_min_share live."""
    from trend_o_meter_spark.llm.text import label_balance
    from trend_o_meter_spark.streaming.pipeline import stream_label_balance

    b1 = [("en",)] * 60 + [("fr",)] * 40
    b2 = [("en",)] * 5000 + [("de",)] * 30  # en floods; fr collapses
    results = {}
    kw = dict(
        state_path=str(tmp_path / "lb"),
        label="lang",
        on_result=lambda bid, df: results.update(
            {bid: sorted(map(tuple, df.collect()))}
        ),
    )

    def _df(rs):
        return _frame(spark, rs, "lang string")

    per_batch = stream_label_balance(**kw)
    per_batch(_df(b1), 0)
    per_batch(_df(b2), 1)
    per_batch(_df(b2), 1)  # at-least-once replay

    want0 = sorted(map(tuple, label_balance(_df(b1), label="lang").collect()))
    want1 = sorted(map(tuple, label_balance(_df(b1 + b2), label="lang").collect()))
    assert results[0] == want0
    assert results[1] == want1
    flags0 = {r[0]: r[3] for r in results[0]}
    flags1 = {r[0]: r[3] for r in results[1]}
    assert not flags0["fr"] and flags1["fr"]  # collapse caught live

    per_batch2 = stream_label_balance(**kw)
    per_batch2(_df([]), 2)
    assert results[2] == want1


def test_stream_ks_equals_batch_comparison_and_replay_safe(spark, tmp_path):
    """The live KS against a frozen reference equals a naive exact ECDF
    comparison over the accumulated stream at every snapshot; replay
    does not double counts; a drifted batch moves ks_stat and at_value
    points into the gap."""
    from fractions import Fraction

    from trend_o_meter_spark.streaming.pipeline import stream_ks

    ref = {i: 10 for i in range(10)}  # uniform on 0..9
    b1 = [i % 10 for i in range(100)]          # matches ref -> KS 0
    # fractional + negative values: -0.7 must floor to -1, not merge
    # into bin 0 (a cast would truncate toward zero)
    b2 = [20 + (i % 5) for i in range(200)] + [-0.7, -0.7, 0.7]
    results = {}
    kw = dict(
        state_path=str(tmp_path / "ks"),
        ref_counts=ref,
        on_result=lambda bid, df: results.update({bid: df.collect()[0]}),
    )

    def _df(vals):
        return _frame(spark, [(float(v),) for v in vals], "value double")

    per_batch = stream_ks(**kw)
    per_batch(_df(b1), 0)
    per_batch(_df(b2), 1)
    per_batch(_df(b2), 1)  # at-least-once replay

    def model(live_vals):
        import math

        live: dict[int, int] = {}
        for v in live_vals:
            live[math.floor(v)] = live.get(math.floor(v), 0) + 1
        na, nb = sum(live.values()), sum(ref.values())
        vals = sorted(set(live) | set(ref))
        best, at = -1, None
        ca = cb = 0
        for v in vals:
            ca += live.get(v, 0)
            cb += ref.get(v, 0)
            d = abs(ca * nb - cb * na)
            if d > best:
                best, at = d, v
        return na, nb, Fraction(best, na * nb), at

    for bid, vals in ((0, b1), (1, b1 + b2)):
        na, nb, ks, at = model(vals)
        r = results[bid]
        assert (r["n_a"], r["n_b"]) == (na, nb)
        assert Fraction(r["ks_stat"]).limit_denominator(10**9) == ks or abs(
            r["ks_stat"] - float(ks)
        ) < 1e-12
        assert r["at_value"] == at
    assert results[0]["ks_stat"] == 0.0
    assert results[1]["ks_stat"] > 0.3

    # restart resumes exactly
    results2 = {}
    per_batch2 = stream_ks(**dict(kw, on_result=lambda bid, df: results2.update({bid: df.collect()[0]})))
    per_batch2(_df([]), 2)
    assert tuple(results2[2]) == tuple(results[1])


def test_stream_funnel_matches_batch_with_replay_and_restart(spark, tmp_path):
    """The live funnel (per-(step, user) frontier min-ts state, MIN
    merge) must equal operators.analytics.funnel_steps over everything
    ingested so far at every batch, survive an at-least-once replay
    unchanged, and resume exactly from its state table on restart.
    Fixture includes: a user converting across batches, a user
    converting fully INSIDE one batch, a never-converting user, and a
    user whose step-2 event precedes their step-1 event (must not
    count — first-touch strictly-after semantics)."""
    from trend_o_meter_spark.operators.analytics import funnel_steps
    from trend_o_meter_spark.streaming.pipeline import stream_funnel

    steps = ("view", "click", "purchase")
    rows = [
        # (epoch, user, event_type)
        (100, "a", "view"), (110, "b", "view"), (120, "c", "view"),
        (130, "d", "click"),            # d: click BEFORE any view
        (150, "a", "click"), (155, "c", "click"), (160, "d", "view"),
        (210, "a", "purchase"),         # a converts fully
        (220, "b", "click"),
        (230, "e", "view"), (235, "e", "click"), (240, "e", "purchase"),  # in one batch
        (250, "d", "click"),            # d's click after their view: counts now
    ]
    batches = [rows[:7], rows[7:9], rows[9:]]

    def mkdf(rs):
        return _frame(
            spark, [(float(e), u, t) for e, u, t in rs], "epoch double, user_id string, event_type string"
        ).select(F.timestamp_seconds("epoch").alias("ts"), "user_id", "event_type")

    results = {}
    per_batch = stream_funnel(
        state_path=str(tmp_path / "funnel"),
        steps=steps,
        on_result=lambda bid, df: results.update({bid: sorted(map(tuple, df.collect()))}),
    )
    seen = []
    for i, chunk in enumerate(batches[:2]):
        seen += chunk
        per_batch(mkdf(chunk), i)
        want = sorted(map(tuple, funnel_steps(mkdf(seen), steps).collect()))
        assert results[i] == want, (i, results[i], want)

    per_batch(mkdf(batches[1]), 1)  # at-least-once replay of batch 1
    assert results[1] == want

    # restart: a NEW foreachBatch closure over the same state path
    results2 = {}
    per_batch2 = stream_funnel(
        state_path=str(tmp_path / "funnel"),
        steps=steps,
        compact_every=2,  # batch 2 fires the guard: MIN-merge fold runs
        on_result=lambda bid, df: results2.update({bid: sorted(map(tuple, df.collect()))}),
    )
    seen += batches[2]
    per_batch2(mkdf(batches[2]), 2)
    want = sorted(map(tuple, funnel_steps(mkdf(seen), steps).collect()))
    assert results2[2] == want
    # spot-check semantics: e converted (in-batch chain), d converted
    # through step 2 only after the in-order click, b stopped at click
    report = {r[1]: (r[2]) for r in results2[2]}  # step_name -> n_users
    assert report["view"] == 5       # a b c d e
    # every user clicked after their view — d's pre-view click at 130
    # did NOT count, their in-order click at 250 did
    assert report["click"] == 5
    assert report["purchase"] == 2   # a (210 > 150) and e (in-batch chain)


def test_stream_dau_mau_matches_batch_replay_and_restart(spark, tmp_path):
    """The live DAU/MAU twin's (user, day) dedup state is
    order-insensitive and replay-idempotent: equal to the batch report
    at every micro-batch (even with out-of-order delivery), unchanged
    under replay, resumed exactly on restart."""
    from trend_o_meter_spark.operators.analytics import dau_mau
    from trend_o_meter_spark.streaming.pipeline import stream_dau_mau

    day = 86400
    rows = [
        (0.5 * day, "a"), (0.6 * day, "b"), (1.2 * day, "a"),
        (2.1 * day, "c"), (0.9 * day, "a"),       # duplicate (a, day0)
        (1.8 * day, "b"), (40.0 * day, "a"),      # far later day
        (2.5 * day, "b"), (0.2 * day, "c"),       # OUT OF ORDER: still exact
    ]
    batches = [rows[:4], rows[4:7], rows[7:]]

    def mkdf(rs):
        return _frame(
            spark, [(float(e), u) for e, u in rs], "epoch double, user_id string"
        ).select(F.timestamp_seconds("epoch").alias("ts"), "user_id")

    results = {}
    per_batch = stream_dau_mau(
        state_path=str(tmp_path / "daumau"),
        window_days=7,
        on_result=lambda bid, df: results.update({bid: sorted(map(tuple, df.collect()))}),
    )
    seen = []
    for i, chunk in enumerate(batches[:2]):
        seen += chunk
        per_batch(mkdf(chunk), i)
        want = sorted(map(tuple, dau_mau(mkdf(seen), window_days=7).collect()))
        assert results[i] == want, i

    per_batch(mkdf(batches[1]), 1)  # replay
    assert results[1] == want

    results2 = {}
    per_batch2 = stream_dau_mau(
        state_path=str(tmp_path / "daumau"),
        window_days=7,
        compact_every=2,  # batch 2 fires the guard: DISTINCT fold runs
        on_result=lambda bid, df: results2.update({bid: sorted(map(tuple, df.collect()))}),
    )
    seen += batches[2]
    per_batch2(mkdf(batches[2]), 2)
    want = sorted(map(tuple, dau_mau(mkdf(seen), window_days=7).collect()))
    assert results2[2] == want


def test_stream_assoc_rules_matches_batch_replay_restart_compaction(spark, tmp_path):
    """The live association-rules twin's (user, window, item) triple-set
    state is order-insensitive and replay-idempotent: equal to the batch
    support/confidence/lift report at every micro-batch — INCLUDING a
    basket whose items arrive split across two micro-batches (the case
    that rules out additive per-pair partials) — unchanged under replay,
    resumed exactly on restart with compaction firing."""
    from trend_o_meter_spark.operators.analytics import assoc_rules
    from trend_o_meter_spark.streaming.pipeline import stream_assoc_rules

    w = 1800
    rows = [
        # (epoch, user, item): users a,b in window 0; a again in window 2
        (10, "a", "view"), (20, "a", "click"),
        (30, "b", "view"),
        # basket (b, w0) SPLIT across batches: purchase arrives later
        (1700, "b", "purchase"),
        (40, "b", "click"),              # out of order within basket: exact
        (2 * w + 10.0, "a", "view"), (2 * w + 20.0, "a", "purchase"),
        (2 * w + 30.0, "c", "view"), (2 * w + 40.0, "c", "click"),
        (25, "a", "view"),               # duplicate triple (a, w0, view)
    ]
    batches = [rows[:3], rows[3:7], rows[7:]]

    def mkdf(rs):
        return _frame(
            spark, [(float(e), u, i) for e, u, i in rs],
            "epoch double, user_id string, event_type string",
        ).select(F.timestamp_seconds("epoch").alias("ts"), "user_id", "event_type")

    results = {}
    per_batch = stream_assoc_rules(
        state_path=str(tmp_path / "assoc"),
        window_seconds=w,
        min_pair_count=1,
        on_result=lambda bid, df: results.update({bid: sorted(map(tuple, df.collect()))}),
    )
    seen = []
    for i, chunk in enumerate(batches[:2]):
        seen += chunk
        per_batch(mkdf(chunk), i)
        want = sorted(map(tuple, assoc_rules(
            mkdf(seen), window_seconds=w, min_pair_count=1
        ).collect()))
        assert results[i] == want, i

    per_batch(mkdf(batches[1]), 1)  # at-least-once replay
    assert results[1] == want

    results2 = {}
    per_batch2 = stream_assoc_rules(
        state_path=str(tmp_path / "assoc"),
        window_seconds=w,
        min_pair_count=1,
        compact_every=2,  # batch 2 fires the guard: DISTINCT fold runs
        on_result=lambda bid, df: results2.update({bid: sorted(map(tuple, df.collect()))}),
    )
    seen += batches[2]
    per_batch2(mkdf(batches[2]), 2)
    want = sorted(map(tuple, assoc_rules(
        mkdf(seen), window_seconds=w, min_pair_count=1
    ).collect()))
    assert results2[2] == want
    # the split basket credited: (view -> purchase) counts basket (b, w0)
    got = {(a, c): n for a, c, n, *_ in results2[2]}
    assert got[("view", "purchase")] == 2  # (b, w0) split + (a, w2) in-batch


def test_stream_interarrival_within_bin_width_replay_restart_compaction(spark, tmp_path):
    """The live inter-arrival twin: per-metric gap quantile estimates
    from additive histogram partials + per-batch edge rows (boundary
    gaps derived at read time) must land within bin_width of the exact
    rank-based gap quantile over everything ingested — including the
    gaps that SPAN micro-batch boundaries — and be unchanged by replay,
    restart, and compaction folding."""
    from trend_o_meter_spark.streaming.pipeline import stream_interarrival

    # metric m: regular 2 s heartbeat with a RECURRENT 30 s outage
    # (~8% of gaps — enough mass that the p99 rank genuinely lands on
    # it); metric n: 5 s cadence.  Batch splits put several gaps ACROSS
    # the boundary.
    rows = []
    t = 0.0
    for i in range(60):
        t += 30.0 if i % 12 == 5 else 2.0
        rows.append((t, "m"))
    u = 0.25
    for i in range(24):
        u += 5.0
        rows.append((u, "n"))
    rows.sort()
    batches = [rows[:30], rows[30:31], rows[31:60], rows[60:]]  # incl. 1-row batch

    def mkdf(rs):
        return _frame(
            spark, [(float(e), m) for e, m in rs], "epoch double, metric string"
        ).select(F.timestamp_seconds("epoch").alias("ts"), "metric")

    def exact_quantile_by_rank(vals, q):
        s = sorted(vals)
        return s[int(q * (len(s) - 1))]

    results = {}
    per_batch = stream_interarrival(
        state_path=str(tmp_path / "inter"),
        bin_width=1.0,
        compact_every=2,  # exercise the edge-folding transform mid-run
        on_result=lambda bid, df: results.update(
            {bid: {(r["metric"], r["q"]): r["quantile_est"] for r in df.collect()}}
        ),
    )
    for i, chunk in enumerate(batches[:3]):
        per_batch(mkdf(chunk), i)
    last = results[2]
    per_batch(mkdf(batches[2]), 2)  # replay
    assert results[2] == last

    results2 = {}
    per_batch2 = stream_interarrival(
        state_path=str(tmp_path / "inter"),
        bin_width=1.0,
        on_result=lambda bid, df: results2.update(
            {bid: {(r["metric"], r["q"]): r["quantile_est"] for r in df.collect()}}
        ),
    )
    per_batch2(mkdf(batches[3]), 3)  # restart + final batch

    gaps = {"m": [], "n": []}
    lastts = {}
    for e, m in rows:
        if m in lastts:
            gaps[m].append(e - lastts[m])
        lastts[m] = e
    # gap count must be exact: every boundary-spanning gap accounted for
    est = results2[3]
    for metric in ("m", "n"):
        for q in (0.5, 0.9, 0.99):
            want = exact_quantile_by_rank(gaps[metric], q)
            got = est[(metric, q)]
            assert abs(got - want) <= 1.0, (metric, q, got, want)
    # the outage gap must be visible in p99 of m (30 s >> p50 of 2 s)
    assert est[("m", 0.99)] >= 25.0
    assert abs(est[("m", 0.5)] - 2.0) <= 1.0


def test_stream_cohort_retention_matches_batch_replay_restart_recohort(spark, tmp_path):
    """The live retention twin's (user, day) dedup state is sufficient
    for the whole triangle (cohort = MIN over the same set): equal to
    the batch report at every batch, unchanged under replay, resumed on
    restart — and a LATE event back-dating a user's first-seen day must
    re-cohort them exactly as batch recompute would."""
    from trend_o_meter_spark.operators.analytics import cohort_retention
    from trend_o_meter_spark.streaming.pipeline import stream_cohort_retention

    day = 86400
    rows = [
        (0.1 * day, "a"), (0.2 * day, "b"), (1.3 * day, "a"),
        (1.4 * day, "c"), (2.5 * day, "b"), (2.6 * day, "c"),
        (3.1 * day, "a"),
        (0.7 * day, "c"),   # LATE: c's true cohort is day 0, not day 1
    ]
    batches = [rows[:4], rows[4:7], rows[7:]]

    def mkdf(rs):
        return _frame(
            spark, [(float(e), u) for e, u in rs], "epoch double, user_id string"
        ).select(F.timestamp_seconds("epoch").alias("ts"), "user_id")

    results = {}
    per_batch = stream_cohort_retention(
        state_path=str(tmp_path / "cohort"),
        max_offset_days=7,
        on_result=lambda bid, df: results.update({bid: sorted(map(tuple, df.collect()))}),
    )
    seen = []
    for i, chunk in enumerate(batches[:2]):
        seen += chunk
        per_batch(mkdf(chunk), i)
        want = sorted(map(tuple, cohort_retention(mkdf(seen), max_offset_days=7).collect()))
        assert results[i] == want, i

    per_batch(mkdf(batches[1]), 1)  # replay
    assert results[1] == want

    results2 = {}
    per_batch2 = stream_cohort_retention(
        state_path=str(tmp_path / "cohort"),
        max_offset_days=7,
        compact_every=2,  # batch 2 fires the guard: DISTINCT fold runs
        on_result=lambda bid, df: results2.update({bid: sorted(map(tuple, df.collect()))}),
    )
    seen += batches[2]
    per_batch2(mkdf(batches[2]), 2)  # the late, re-cohorting event
    want = sorted(map(tuple, cohort_retention(mkdf(seen), max_offset_days=7).collect()))
    assert results2[2] == want
    # c re-cohorted to day 0: day-0 cohort now has 3 users
    sizes = {(r[0], r[1]): r[3] for r in results2[2]}  # (cohort, off) -> size
    assert sizes[(0, 0)] == 3


def test_stream_event_transitions_exact_boundary_pairs_replay_restart(spark, tmp_path):
    """The live transition-matrix twin must be EXACT vs the batch
    operator at every micro-batch — including the consecutive pairs
    that SPAN batch boundaries (edge-row derivation) — and survive
    replay, restart, and mid-run compaction unchanged."""
    from trend_o_meter_spark.operators.analytics import event_transitions
    from trend_o_meter_spark.streaming.pipeline import stream_event_transitions

    rows = [
        # (epoch, user, type) — u1's view->click and click->purchase
        # pairs span batch boundaries; u2 interleaves
        (10, "u1", "view"), (20, "u2", "view"), (30, "u2", "click"),
        (40, "u1", "click"), (50, "u2", "view"),
        (60, "u1", "purchase"), (70, "u2", "click"), (80, "u1", "view"),
    ]
    batches = [rows[:3], rows[3:5], rows[5:]]

    def mkdf(rs):
        return _frame(
            spark, [(float(e), u, t) for e, u, t in rs],
            "epoch double, user_id string, event_type string",
        ).select(
            F.timestamp_seconds("epoch").alias("ts"), "user_id", "event_type",
            F.col("epoch").cast("long").alias("event_id"),
        )

    results = {}
    per_batch = stream_event_transitions(
        state_path=str(tmp_path / "trans"),
        tiebreak=("event_id",),
        compact_every=2,  # exercise the edge-folding transform mid-run
        on_result=lambda bid, df: results.update({bid: sorted(map(tuple, df.collect()))}),
    )
    seen = []
    for i, chunk in enumerate(batches[:2]):
        seen += chunk
        per_batch(mkdf(chunk), i)
        want = sorted(map(tuple, event_transitions(
            mkdf(seen), tiebreak=("event_id",)).collect()))
        assert results[i] == want, (i, results[i], want)

    per_batch(mkdf(batches[1]), 1)  # replay
    assert results[1] == want

    results2 = {}
    per_batch2 = stream_event_transitions(
        state_path=str(tmp_path / "trans"),
        tiebreak=("event_id",),
        compact_every=2,  # batch 2 fires the guard: fold runs mid-run
        on_result=lambda bid, df: results2.update({bid: sorted(map(tuple, df.collect()))}),
    )
    seen += batches[2]
    per_batch2(mkdf(batches[2]), 2)
    want = sorted(map(tuple, event_transitions(
        mkdf(seen), tiebreak=("event_id",)).collect()))
    assert results2[2] == want
    # u1: view->click->purchase->view, u2: view->click->view->click
    got = {(f, t): n for f, t, n in results2[2]}
    assert got[("view", "click")] == 3
    assert got[("click", "purchase")] == 1
    assert got[("purchase", "view")] == 1
    assert got[("click", "view")] == 1


def test_stream_ab_lift_matches_batch_replay_restart(spark, tmp_path):
    """The live A/B readout's two DISTINCT user sets are
    order-insensitive, replay-idempotent state: equal to the batch
    readout at every micro-batch, unchanged under replay, resumed on
    restart; arm assignment is the salted-hash pure function so a
    user's arm never changes across batches."""
    from trend_o_meter_spark.operators.analytics import ab_lift
    from trend_o_meter_spark.streaming.pipeline import stream_ab_lift

    rows = [
        (10, "a", "view"), (20, "b", "view"), (30, "c", "purchase"),
        (40, "d", "view"), (50, "a", "purchase"), (60, "e", "view"),
        (70, "f", "purchase"), (80, "b", "view"), (15, "g", "view"),  # out of order
    ]
    batches = [rows[:4], rows[4:7], rows[7:]]

    def mkdf(rs):
        return _frame(
            spark, [(float(e), u, t) for e, u, t in rs],
            "epoch double, user_id string, event_type string",
        ).select(F.timestamp_seconds("epoch").alias("ts"), "user_id", "event_type")

    results = {}
    per_batch = stream_ab_lift(
        state_path=str(tmp_path / "ab"),
        on_result=lambda bid, df: results.update({bid: sorted(map(tuple, df.collect()))}),
    )
    seen = []
    for i, chunk in enumerate(batches[:2]):
        seen += chunk
        per_batch(mkdf(chunk), i)
        want = sorted(map(tuple, ab_lift(mkdf(seen)).collect()))
        assert results[i] == want, i

    per_batch(mkdf(batches[1]), 1)  # replay
    assert results[1] == want

    results2 = {}
    per_batch2 = stream_ab_lift(
        state_path=str(tmp_path / "ab"),
        compact_every=2,  # batch 2 fires the guard: DISTINCT fold runs
        on_result=lambda bid, df: results2.update({bid: sorted(map(tuple, df.collect()))}),
    )
    seen += batches[2]
    per_batch2(mkdf(batches[2]), 2)
    want = sorted(map(tuple, ab_lift(mkdf(seen)).collect()))
    assert results2[2] == want


def test_stream_rfm_matches_batch_replay_and_restart(spark, tmp_path):
    """The live RFM twin's per-user (max epoch, count, decimal sum)
    partials merge losslessly, so the segment report equals the batch
    operator at every micro-batch — breakpoints re-derived over the
    merged population each time — and survives replay and restart."""
    from trend_o_meter_spark.operators.analytics import rfm_segments
    from trend_o_meter_spark.streaming.pipeline import stream_rfm

    rng_rows = []
    # 12 purchasing users with spread recency/frequency/monetary, plus
    # noise events the filter must drop
    for i in range(12):
        for k in range(1 + (i % 4)):
            rng_rows.append((1000.0 * (i + 1) + 100.0 * k, f"u{i}", "purchase", 10.0 + 7.0 * i + k))
        rng_rows.append((500.0 * i, f"u{i}", "view", 1.0))
    rng_rows.sort()
    batches = [rng_rows[:12], rng_rows[12:25], rng_rows[25:]]

    def mkdf(rs):
        return _frame(
            spark, [(float(e), u, t, float(v)) for e, u, t, v in rs],
            "epoch double, user_id string, event_type string, value double",
        ).select(
            F.timestamp_seconds("epoch").alias("ts"), "user_id", "event_type", "value"
        )

    results = {}
    per_batch = stream_rfm(
        state_path=str(tmp_path / "rfm"),
        compact_every=2,
        on_result=lambda bid, df: results.update({bid: sorted(map(tuple, df.collect()))}),
    )
    seen = []
    for i, chunk in enumerate(batches[:2]):
        seen += chunk
        per_batch(mkdf(chunk), i)
        want = sorted(map(tuple, rfm_segments(mkdf(seen)).collect()))
        assert results[i] == want, i

    per_batch(mkdf(batches[1]), 1)  # replay
    assert results[1] == want

    results2 = {}
    per_batch2 = stream_rfm(
        state_path=str(tmp_path / "rfm"),
        compact_every=2,  # batch 2 fires the guard: fold runs mid-run
        on_result=lambda bid, df: results2.update({bid: sorted(map(tuple, df.collect()))}),
    )
    seen += batches[2]
    per_batch2(mkdf(batches[2]), 2)
    want = sorted(map(tuple, rfm_segments(mkdf(seen)).collect()))
    assert results2[2] == want


def test_stream_novelty_matches_batch_replay_restart_compaction(spark, tmp_path):
    """The live novelty twin (round 10): per-gram min-doc-id state,
    min-merged — each batch's report must equal the batch operator over
    the union RESTRICTED to the batch's docs (in-doc_id-order
    delivery), and survive replay, restart, and mid-run compaction
    unchanged (the partial is a deterministic function of its batch, so
    replay overwrites itself)."""
    from trend_o_meter_spark.llm.dedup import ngram_novelty
    from trend_o_meter_spark.streaming.pipeline import stream_novelty

    docs = [
        (0, "a b c d"),          # grams all first here
        (1, "a b c x y"),        # "a b c" seen from doc 0 (same batch)
        (2, "a b c d"),          # all seen (cross-batch)
        (3, "p q r s"),          # fresh
        (4, "p q r a b c"),      # "p q r" seen (batch 2), "a b c" (batch 0)
        (5, "a b"),              # too short: no report row
    ]
    batches = [docs[:2], docs[2:4], docs[4:]]

    def mkdf(rs):
        return _frame(spark, rs, "doc_id long, text string")

    results = {}
    per_batch = stream_novelty(
        state_path=str(tmp_path / "nov"),
        compact_every=2,  # fires ON batch 2 mid-run
        on_result=lambda bid, df: results.update(
            {bid: sorted(map(tuple, df.collect()))}
        ),
    )
    seen = []
    for i, chunk in enumerate(batches):
        seen += chunk
        per_batch(mkdf(chunk), i)
        ids = {r[0] for r in chunk}
        want = sorted(
            map(tuple, ngram_novelty(mkdf(seen)).filter(F.col("doc_id").isin(ids)).collect())
        )
        assert results[i] == want, i

    # replay of the last batch: identical report, state self-overwrites
    per_batch(mkdf(batches[2]), 2)
    assert results[2] == want

    # restart from the same state path: next batch still exact
    results2 = {}
    per_batch2 = stream_novelty(
        state_path=str(tmp_path / "nov"),
        on_result=lambda bid, df: results2.update(
            {bid: sorted(map(tuple, df.collect()))}
        ),
    )
    extra = [(6, "a b c d p q r")]  # every gram seen except "c d p"/"d p q"
    seen += extra
    per_batch2(mkdf(extra), 3)
    want = sorted(
        map(tuple, ngram_novelty(mkdf(seen)).filter(F.col("doc_id") == 6).collect())
    )
    assert results2[3] == want


def test_stream_novelty_gramless_first_batch(spark, tmp_path):
    """Review r10 crash path: a non-empty first batch whose docs are all
    shorter than shingle_n yields ZERO shingles — the state read returns
    None and the report step must bail instead of dereferencing it; a
    later normal batch then reports exactly."""
    from trend_o_meter_spark.llm.dedup import ngram_novelty
    from trend_o_meter_spark.streaming.pipeline import stream_novelty

    results = {}
    per_batch = stream_novelty(
        state_path=str(tmp_path / "nov_short"),
        on_result=lambda bid, df: results.update(
            {bid: sorted(map(tuple, df.collect()))}
        ),
    )
    def mkdf(rs):
        return _frame(spark, rs, "doc_id long, text string")

    per_batch(mkdf([(0, "a b"), (1, "x")]), 0)  # gramless: no crash
    assert results == {}
    per_batch(mkdf([(2, "x y z w")]), 1)
    want = sorted(map(tuple, ngram_novelty(
        mkdf([(0, "a b"), (1, "x"), (2, "x y z w")])
    ).collect()))
    assert results[1] == want


def test_stream_rfm_score_every_snapshot_cadence(spark, tmp_path):
    """Round-10 snapshot cadence (VERDICT r09 #5): with score_every=N,
    non-snapshot batches append state WITHOUT the O(users) re-score (no
    report emitted), and every N-th batch's report still equals the
    batch operator over everything ingested so far — cadence trades
    freshness, never correctness."""
    from trend_o_meter_spark.operators.analytics import rfm_segments
    from trend_o_meter_spark.streaming.pipeline import stream_rfm

    rows = []
    for i in range(10):
        for k in range(1 + (i % 3)):
            rows.append((100.0 * (i + 1) + 10.0 * k, f"u{i}", "purchase", 5.0 + 3.0 * i + k))
    rows.sort()
    chunks = [rows[i::5] for i in range(5)]  # 5 batches

    def mkdf(rs):
        return _frame(
            spark, [(float(e), u, t, float(v)) for e, u, t, v in rs],
            "epoch double, user_id string, event_type string, value double",
        ).select(
            F.timestamp_seconds("epoch").alias("ts"), "user_id", "event_type", "value"
        )

    results = {}
    per_batch = stream_rfm(
        state_path=str(tmp_path / "rfm_cadence"),
        score_every=2,
        on_result=lambda bid, df: results.update({bid: sorted(map(tuple, df.collect()))}),
    )
    seen = []
    for i, chunk in enumerate(chunks):
        seen += chunk
        per_batch(mkdf(chunk), i)
    assert sorted(results) == [0, 2, 4]  # snapshots only
    # each snapshot equals the batch operator over its prefix
    for bid in (2, 4):
        prefix = [r for c in chunks[: bid + 1] for r in c]
        want = sorted(map(tuple, rfm_segments(mkdf(prefix)).collect()))
        assert results[bid] == want, bid


def test_stream_attribution_matches_batch_replay_restart_compaction(spark, tmp_path):
    """The live last-touch twin must equal the batch as-of attribution
    at every micro-batch — conversions credited across batch boundaries
    through the carried best-touch state, same-ts ties resolved by
    greatest event id, touchless conversions 'unattributed' — and
    survive replay, restart, and mid-run compaction unchanged."""
    from trend_o_meter_spark.operators.analytics import attribution_last_touch
    from trend_o_meter_spark.streaming.pipeline import stream_attribution

    rows = [
        # (epoch, user, type, value, event_id)
        (10, "a", "view", 0.0, 1), (20, "b", "click", 0.0, 2),
        (30, "a", "purchase", 50.0, 3),          # in-batch: view@10
        (40, "c", "purchase", 25.0, 4),          # no touch ever: unattributed
        (50, "b", "view", 0.0, 5),
        (60, "b", "purchase", 75.0, 6),          # cross-batch vs in-batch: view@50 wins
        (70, "a", "purchase", 10.0, 7),          # carried view@10 across two batches
        (80, "d", "view", 0.0, 8), (80, "d", "click", 0.0, 9),
        (80, "d", "purchase", 5.0, 10),          # same-ts tie: click (id 9) wins
    ]
    batches = [rows[:4], rows[4:6], rows[6:]]

    def mkdf(rs):
        return _frame(
            spark, [(float(e), u, t, float(v), int(i)) for e, u, t, v, i in rs],
            "epoch double, user_id string, event_type string, value double, event_id long",
        ).select(
            F.timestamp_seconds("epoch").alias("ts"),
            "user_id", "event_type", "value", "event_id",
        )

    results = {}
    per_batch = stream_attribution(
        state_path=str(tmp_path / "attr"),
        compact_every=2,
        on_result=lambda bid, df: results.update({bid: sorted(map(tuple, df.collect()))}),
    )
    seen = []
    for i, chunk in enumerate(batches[:2]):
        seen += chunk
        per_batch(mkdf(chunk), i)
        want = sorted(map(tuple, attribution_last_touch(mkdf(seen)).collect()))
        assert results[i] == want, (i, results[i], want)

    per_batch(mkdf(batches[1]), 1)  # at-least-once replay
    assert results[1] == want

    results2 = {}
    per_batch2 = stream_attribution(
        state_path=str(tmp_path / "attr"),
        compact_every=2,  # batch 2 fires the guard: fold runs mid-run
        on_result=lambda bid, df: results2.update({bid: sorted(map(tuple, df.collect()))}),
    )
    seen += batches[2]
    per_batch2(mkdf(batches[2]), 2)
    want = sorted(map(tuple, attribution_last_touch(mkdf(seen)).collect()))
    assert results2[2] == want
    got = {t: (n, r) for t, n, r in results2[2]}
    assert got["view"] == (3, 135.0)        # a@30 (50), b@60 (75), a@70 (10)
    assert got["click"] == (1, 5.0)         # d's same-ts tie by greater id
    assert got["unattributed"] == (1, 25.0)


def test_stream_attribution_replay_carried_touch_before_same_batch_touch(
    spark, tmp_path
):
    """ADVICE r08 repro: a conversion whose matching touch is CARRIED
    from an earlier batch while a LATER touch for the same user sits in
    the same micro-batch.  Without exclude_batch, a replay reads state
    already holding the batch's own best-touch write; the per-user max
    then displaces the carried view@10 with the batch's own click@70 and
    the conversion re-derives as 'unattributed'.  The prior read — and
    the compaction firing ON the replayed batch (compact_every=2 makes
    batch 2's replay hit both paths) — must exclude the batch's own
    partition so the replay derives the first attempt's exact partial."""
    from trend_o_meter_spark.streaming.pipeline import stream_attribution

    def mkdf(rs):
        return _frame(
            spark, [(float(e), u, t, float(v), int(i)) for e, u, t, v, i in rs],
            "epoch double, user_id string, event_type string, value double, event_id long",
        ).select(
            F.timestamp_seconds("epoch").alias("ts"),
            "user_id", "event_type", "value", "event_id",
        )

    batches = [
        [(10, "a", "view", 0.0, 1)],
        [(20, "b", "view", 0.0, 2)],
        [(60, "a", "purchase", 50.0, 3), (70, "a", "click", 0.0, 4)],
    ]
    results = {}
    per_batch = stream_attribution(
        state_path=str(tmp_path / "attr"),
        compact_every=2,  # compaction fires on batch 2 — and on its replay
        on_result=lambda bid, df: results.update(
            {bid: sorted(map(tuple, df.collect()))}
        ),
    )
    for i, chunk in enumerate(batches):
        per_batch(mkdf(chunk), i)
    first = results[2]
    got = {t: (n, r) for t, n, r in first}
    assert got.get("view") == (1, 50.0)  # carried view@10, not same-batch click@70
    assert "unattributed" not in got

    per_batch(mkdf(batches[2]), 2)  # at-least-once replay
    assert results[2] == first


def test_stream_attribution_out_of_order_touch_is_observable(spark, tmp_path):
    """VERDICT r08 task 8: the in-order delivery contract's violation
    must be visible, not silent — a touch arriving BELOW the user's
    carried high-water event ts increments a state-backed counter and
    the report gains a '__late_rows' row; clean runs emit no such row
    (keeping the report batch-equal), and a replay of the late batch
    re-derives the same count instead of double-counting."""
    from trend_o_meter_spark.streaming.pipeline import stream_attribution

    def mkdf(rs):
        return _frame(
            spark, [(float(e), u, t, float(v), int(i)) for e, u, t, v, i in rs],
            "epoch double, user_id string, event_type string, value double, event_id long",
        ).select(
            F.timestamp_seconds("epoch").alias("ts"),
            "user_id", "event_type", "value", "event_id",
        )

    results = {}
    per_batch = stream_attribution(
        state_path=str(tmp_path / "attr"),
        on_result=lambda bid, df: results.update(
            {bid: sorted(map(tuple, df.collect()))}
        ),
    )
    per_batch(mkdf([(100, "a", "view", 0.0, 1), (150, "a", "purchase", 10.0, 2)]), 0)
    assert results[0] == [("view", 1, 10.0)]  # clean run: no sentinel row

    per_batch(mkdf([(120, "a", "click", 0.0, 3)]), 1)  # 120 < high-water 150
    assert ("__late_rows", 1, None) in results[1]
    assert ("view", 1, 10.0) in results[1]

    per_batch(mkdf([(120, "a", "click", 0.0, 3)]), 1)  # replay: still 1
    assert ("__late_rows", 1, None) in results[1]


def test_stream_funnel_resumes_from_pre_counter_state_schema(spark, tmp_path):
    """Round-9 widened funnel state with the __n counter column; a
    restart over a round-8 state table (no __n anywhere on disk) must
    resume exactly, reading the old partitions as null counters —
    'resumed exactly on restart' is schema-upgrade-proof (review
    finding; statestore reads with mergeSchema so mixed partitions
    can't shadow the new column either)."""
    from trend_o_meter_spark.streaming.pipeline import stream_funnel
    from trend_o_meter_spark.streaming.statestore import PartialStateTable

    st = PartialStateTable(str(tmp_path / "funnel"))
    # a round-8-shaped partial: u1 completed step 0 at t=100, no __n
    old = _frame(
        spark, [(0, "u1", 100.0)], "__step int, __u string, __epoch double"
    ).select("__step", "__u", F.timestamp_seconds("__epoch").alias("__ft"))
    st.append(old, 0)

    results = {}
    per_batch = stream_funnel(
        state_path=str(tmp_path / "funnel"),
        steps=("signup", "activate"),
        on_result=lambda bid, df: results.update(
            {bid: sorted(map(tuple, df.collect()))}
        ),
    )
    batch = _frame(
        spark, [(200.0, "u1", "activate")], "epoch double, user_id string, event_type string"
    ).select(F.timestamp_seconds("epoch").alias("ts"), "user_id", "event_type")
    per_batch(batch, 1)
    by_step = {r[0]: r[2] for r in results[1]}
    assert by_step[1] == 1 and by_step[2] == 1  # carried signup + new activate

    # COMPACTION BOUNDARY over the mixed-schema table (review finding):
    # the widening transform's output must union with the old-schema
    # seed/held slices — strict unionByName used to crash this batch
    per_batch2 = stream_funnel(
        state_path=str(tmp_path / "funnel"),
        steps=("signup", "activate"),
        compact_every=2,  # batch 2 fires the fold over old+new partitions
        on_result=lambda bid, df: results.update(
            {bid: sorted(map(tuple, df.collect()))}
        ),
    )
    batch2 = _frame(
        spark, [(300.0, "u2", "signup")], "epoch double, user_id string, event_type string"
    ).select(F.timestamp_seconds("epoch").alias("ts"), "user_id", "event_type")
    per_batch2(batch2, 2)
    by_step = {r[0]: r[2] for r in results[2]}
    assert by_step[1] == 2 and by_step[2] == 1  # u1 intact through the fold


def test_stream_funnel_out_of_order_event_is_observable(spark, tmp_path):
    """VERDICT r08 task 8 (funnel side): an event arriving below the
    user's carried high-water ts surfaces as a (step_index=-1,
    '__late_rows', count) report row instead of silently diverging;
    clean runs emit no sentinel and a replay re-derives the same count."""
    from trend_o_meter_spark.streaming.pipeline import stream_funnel

    def mkdf(rs):
        return _frame(
            spark, [(float(e), u, t) for e, u, t in rs],
            "epoch double, user_id string, event_type string",
        ).select(F.timestamp_seconds("epoch").alias("ts"), "user_id", "event_type")

    results = {}
    per_batch = stream_funnel(
        state_path=str(tmp_path / "funnel"),
        steps=("signup", "activate"),
        on_result=lambda bid, df: results.update(
            {bid: sorted(map(tuple, df.collect()))}
        ),
    )
    per_batch(mkdf([(100, "u1", "signup"), (200, "u1", "activate")]), 0)
    assert all(r[1] != "__late_rows" for r in results[0])  # clean run

    per_batch(mkdf([(50, "u1", "signup")]), 1)  # 50 < high-water 200
    assert (-1, "__late_rows", 1, None) in results[1]

    per_batch(mkdf([(50, "u1", "signup")]), 1)  # replay: still 1
    assert (-1, "__late_rows", 1, None) in results[1]
