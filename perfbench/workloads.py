"""The two workloads.  Each one builds its inputs from the seed in
``setup`` (which also runs an untimed warm-up), hands the timed loop
one *round* of operations at a time, checks the program's outputs
against an independent computation, and — in the traced mode —
reports its per-layer numbers.

An operation is a zero-argument callable returning the number of items
it completed.  Every round attempts the same operations.
"""

from __future__ import annotations

import contextlib
import json
import os
import random
from pathlib import Path

from perfbench import datagen, reference
from perfbench.harness import Tracer, median, plan_python_metrics, since_process_start


class Workload:
    # whole rounds timed per 10 s of ``--seconds``: the median over one
    # round of a workload with few, short operations does not repeat
    rounds_per_10s = 1

    def __init__(self, spark, seed: int, work: Path, tracer: Tracer | None):
        self.spark, self.seed, self.work, self.tracer = spark, seed, work, tracer

    def span(self, name: str):
        return contextlib.nullcontext() if self.tracer is None else self.tracer.span(name)

    def setup(self) -> None:
        raise NotImplementedError

    def round(self, index: int) -> list:
        raise NotImplementedError

    def check(self) -> tuple[bool, str]:
        raise NotImplementedError

    def layer_metrics(self, n_ops: int) -> dict[str, float]:
        return {}

    def close(self) -> None:
        pass


def _state_table_usage(path: Path) -> tuple[int, int]:
    files = list(path.rglob("*.parquet"))
    return len(files), sum(f.stat().st_size for f in files)


# -- live_trend ----------------------------------------------------------------


class LiveTrend(Workload):
    """The monitor's life: start-up replays per-metric Redis history lists
    (served over loopback RESP, registered as a catalog source) into the
    state table, then sensor messages arrive as one JSON file per
    micro-batch through ``decode_sensor_stream`` -> ``stream_day_bins``
    -> ``render_frame``.  The start-up bootstrap and the first, cold
    micro-batch are set-up; each timed operation is one micro-batch."""

    SENSORS, METRICS, PER_SENSOR, BURST = 8, 5, 144, 4
    SPAN_S = 3 * 86_400  # event time per batch
    START_S = 1_700_000_000  # the history ends and the live stream begins here
    HISTORY_METRICS = ("sensor0.m0", "sensor0.m1")

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from trend_o_meter_spark.streaming import pipeline
        from trend_o_meter_spark.streaming.sources import decode_sensor_stream

        self.state = self.work / "state"
        self.bootstrap()
        print(f"phase: bootstrap {since_process_start():.2f} s", flush=True)
        self.in_dir = self.work / "in"
        self.in_dir.mkdir(parents=True)
        self.batches: list[list[dict]] = []
        self.last: tuple | None = None
        self.python: list[tuple[float, float]] = []  # per micro-batch, traced runs
        self._mtime = 0
        raw = self.spark.readStream.format("text").option("maxFilesPerTrigger", "1").load(
            str(self.in_dir)
        )
        readings = (
            decode_sensor_stream(raw)
            .filter(F.col("corrupt").isNull())
            .select("ts", F.concat_ws(".", "source", "metric").alias("metric"), "value")
        )
        kept, per_batch = pipeline.stream_day_bins(
            readings, state_path=str(self.state), on_result=self._on_result
        )
        if self.tracer is not None:
            inner = per_batch

            def per_batch(df, batch_id):
                with self.tracer.span("pipeline.batch"):
                    inner(df, batch_id)

        self.q = (
            kept.writeStream.foreachBatch(per_batch)
            .outputMode("append")
            .option("checkpointLocation", str(self.work / "ckpt"))
            .start()
        )
        self._feed()  # warm-up: the cold first micro-batch

    # -- start-up: the Redis history bootstrap

    def bootstrap(self) -> None:
        from trend_o_meter_spark import catalog
        from trend_o_meter_spark.config import DEFAULT_CONFIG
        from trend_o_meter_spark.operators.daybins import day_binned_extremes
        from trend_o_meter_spark.operators.retention import retain_window
        from trend_o_meter_spark.streaming import pipeline
        from trend_o_meter_spark.streaming.display import render_frame
        from trend_o_meter_spark.streaming.statestore import PartialStateTable
        from trend_o_meter_spark.transports import redis_source

        from perfbench.resp_server import RespListServer

        self.max_len = DEFAULT_CONFIG.max_list_query_length
        self.lists = datagen.history_lists(
            self.seed, metrics=self.HISTORY_METRICS, length=self.max_len, end_s=self.START_S
        )
        self.server = RespListServer(
            {f"sensor:{m}:.list": [json.dumps(p).encode() for p in pairs]
             for m, pairs in self.lists.items()}
        )
        redis_source.register_redis_history(
            "127.0.0.1", self.server.port, name="sensor_history", sensor="sensor",
            metrics=tuple(self.lists), max_len=self.max_len,
        )
        with self.span("bootstrap"):
            history = catalog.table(self.spark, "sensor_history")
            pipeline.seed_history(history, state_path=str(self.state))
            state = retain_window(
                PartialStateTable(str(self.state)).read(self.spark),
                ts="ts", keys=("metric",), days=7.0,
            )
            with self.span("operators.daybins"):
                rows = day_binned_extremes(state).collect()
            with self.span("display.render"):
                frames = {m: render_frame(rows, metric=m) for m in self.lists}
        self.first = (rows, frames)
        self.reply_bytes = self.server.reply_bytes
        # the rows catalog.table delivered, counted without a second read
        self.history_counts = sorted(
            (r["metric"], r["count"]) for r in history.groupBy("metric").count().collect()
        )

    # -- the live loop

    def _on_result(self, batch_id: int, df) -> None:
        from trend_o_meter_spark.streaming.display import render_frame

        with self.span("operators.daybins"):
            rows = df.collect()
        with self.span("display.render"):
            frames = {m: render_frame(rows, metric=m) for m in sorted({r["metric"] for r in rows})}
        self.last = (batch_id, rows, frames)

    def _feed(self) -> int:
        idx = len(self.batches)
        msgs = datagen.sensor_batch(
            self.seed, idx, sensors=self.SENSORS, metrics=self.METRICS,
            start_s=self.START_S + idx * self.SPAN_S, span_s=self.SPAN_S,
            per_sensor=self.PER_SENSOR, burst=self.BURST,
        )
        self.batches.append(msgs)
        path = self.in_dir / f"batch-{idx:05d}.json"
        path.write_text("\n".join(json.dumps(m) for m in msgs) + "\n")
        # the file source orders by mtime: make it strictly increasing
        self._mtime = max(self._mtime + 1_000_000, os.stat(path).st_mtime_ns)
        os.utime(path, ns=(self._mtime, self._mtime))
        self.q.processAllAvailable()
        if self.last is None or self.last[0] != idx:
            raise RuntimeError(f"micro-batch {idx} produced no day-bin result")
        if self.tracer is not None:
            self.python.append(plan_python_metrics(
                self.q._jsq.streamingQuery().lastExecution().executedPlan()
            ))
        return len(msgs)

    def round(self, index: int) -> list:
        return [self._feed]

    # -- checks

    def check(self) -> tuple[bool, str]:
        history = reference.fixed_grid_keep([
            (m, int(t) * 1_000_000, float(v)) for m, pairs in self.lists.items() for t, v in pairs
        ])
        batches = [
            [(f"{m['source']}.{k}", m["ts"] * 1_000_000, v) for m in msgs for k, v in m["value"].items()]
            for msgs in self.batches
        ]
        readings = [r for b in batches for r in b]
        live = reference.anchored_keep(batches)
        held = sorted((m, min(len(v), self.max_len + 1)) for m, v in self.lists.items())
        want_first = reference.day_bins(reference.retain(history))
        retained = reference.retain(history + live)
        want_last = reference.day_bins(retained)
        # what a downsample that keeps every reading would give
        undropped = reference.day_bins(reference.retain(history + readings))

        def ok_last(rows_: list[tuple]) -> bool:
            return rows_ == want_last

        got_first = reference.extents_rows(self.first[0])
        batch_id, rows, frames = self.last
        got_last = reference.extents_rows(rows)
        metrics = {r[0] for r in want_last}
        if not 0 < len(live) < len(readings):
            return False, f"the downsample keeps {len(live)} of {len(readings)} readings: its drop path is not run"
        if self.history_counts != held:
            return False, f"rows received per list {self.history_counts} differ from rows held {held}"
        if got_first != want_first:
            return False, "bootstrap day-bin extents differ from the recomputation"
        if batch_id != len(self.batches) - 1:
            return False, f"last result is batch {batch_id}, not {len(self.batches) - 1}"
        if not ok_last(got_last):
            return False, f"day-bin extents differ from the recomputation ({len(got_last)} vs {len(want_last)} rows)"
        if set(frames) != metrics or any(len(f) != 4 for f in [*frames.values(), *self.first[1].values()]):
            return False, "a metric has no 4-line display frame"
        if not (reference.check_detects(lambda c: c == held, self.history_counts)
                and reference.check_detects(lambda r: r == want_first, got_first)
                and reference.check_detects(ok_last, got_last)
                and not ok_last(undropped)):
            return False, "mutation self-test: a check accepted a perturbed output"
        return True, (
            f"per-list rows {held}; bootstrap {len(got_first)} and last batch {len(got_last)} "
            f"extents rows over {len(metrics)} metrics, {len(retained)} retained samples; "
            f"the downsample kept {len(live)} of {len(readings)} live readings"
        )

    def layer_metrics(self, n_ops: int) -> dict[str, float]:
        timed = set(range(len(self.batches) - n_ops, len(self.batches)))
        progs = [p for p in self.q.recentProgress if p["batchId"] in timed]
        dur = [p["durationMs"] for p in progs]
        ops = [p["stateOperators"][0] for p in progs]
        files, size = _state_table_usage(self.state)
        return {
            "pipeline.add_batch_ms": median([d["addBatch"] for d in dur]),
            "pipeline.trigger_other_ms": median([d["triggerExecution"] - d["addBatch"] for d in dur]),
            "pipeline.batch_self_ms": median(self.tracer.self_ms("pipeline.batch")[-n_ops:]),
            "stateful.state_rows": float(ops[-1]["numRowsTotal"]),
            "stateful.state_bytes": float(ops[-1]["memoryUsedBytes"]),
            "stateful.commit_ms": median([o["commitTimeMs"] for o in ops]),
            "stateful.partitions": float(ops[-1]["numShufflePartitions"]),
            "statestore.files": float(files),
            "statestore.bytes": float(size),
            "sources.rows_per_batch": median([p["numInputRows"] for p in progs]),
            "transports.reply_bytes": float(self.reply_bytes),
            # added to the REST API's figures, which miss the stateful node
            "session.python_worker_ms_per_op": sum(ms for ms, _ in self.python[-n_ops:]) / n_ops,
            "session.python_bytes_per_op": sum(b for _, b in self.python[-n_ops:]) / n_ops,
            **{
                f"{name}_ms": self.tracer.within_ms("bootstrap", name)
                for name in ("catalog.table", "transports.lrange", "transports.history_df",
                             "pipeline.seed", "statestore.seed")
            },
        }

    def close(self) -> None:
        from trend_o_meter_spark import catalog

        if getattr(self, "q", None) is not None:
            self.q.stop()
        catalog.register_source("sensor_history", None)
        if getattr(self, "server", None) is not None:
            self.server.close()


# -- query_mix -------------------------------------------------------------------

QUERIES = (
    "q1_pricing_summary",
    "q18_large_volume_orders",
    "flagship_day_bins",
    "sliding_rates_10s",
    "flagship_day_bins_compat",
    "warc_extract",
    "mad_anomalies",
    "minhash_lsh_pairs",
    "bm25_search",
)
ORACLE_TABLES = ("customer", "orders", "lineitem", "events", "documents")


def _observed(df):
    """``df`` with an order-insensitive fingerprint of its rows (count and
    sum of a row hash) collected while an action runs it."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    row_hash = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(2**31 - 1))
    return obs, df.observe(obs, F.count(F.lit(1)).alias("rows"), F.sum(row_hash).alias("hash"))


class QueryMix(Workload):
    """Registry queries over seeded tables, each forced through the
    ``noop`` sink, in a seeded order per round."""

    rounds_per_10s = 2

    def setup(self) -> None:
        from trend_o_meter_spark.workload import registry

        self.data = str(self.work / "tables")
        datagen.write_tables(self.data, self.seed)
        print(f"phase: tables {since_process_start():.2f} s", flush=True)
        self.specs = {s.name: s for s in registry() if s.name in QUERIES}
        # warm-up round: collect every query once and keep its result for
        # the oracle check, which runs after the timed phase
        self.results, self.timed = {}, []
        for name in QUERIES:
            obs, df = _observed(self.specs[name].spark(self.spark, self.data))
            self.results[name] = (df.columns, [tuple(r) for r in df.collect()], obs)

    def oracles(self) -> dict[str, tuple]:
        """DuckDB over the same files, under a memory cap so a runaway
        oracle fails instead of exhausting the host."""
        import duckdb

        con = duckdb.connect()
        try:
            con.execute("SET memory_limit='2GB'")
            con.execute("SET threads=2")
            for t in ORACLE_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
            out = {}
            for name in QUERIES:
                res = con.sql(self.specs[name].oracle)
                out[name] = (res.columns, res.fetchall())
            return out
        finally:
            con.close()

    def _op(self, name: str):
        def run() -> int:
            with self.span(f"query.{name}.plan"):
                df = self.specs[name].spark(self.spark, self.data)
            with self.span(f"query.{name}.exec"):
                obs, df = _observed(df)
                df.write.format("noop").mode("overwrite").save()
            self.timed.append((name, obs))
            return 1

        run.name = name
        return run

    def round(self, index: int) -> list:
        order = list(QUERIES)
        random.Random(f"{self.seed}/{index}").shuffle(order)
        return [self._op(n) for n in order]

    def check(self) -> tuple[bool, str]:
        bad = []
        oracles = self.oracles()
        for name in QUERIES:
            cols, rows, obs = self.results[name]
            ocols, orows = oracles[name]
            want = reference.fingerprint(orows, ocols)

            def same(r, cols=cols, want=want):
                return reference.fingerprint(r, cols) == want

            if not same(rows):
                bad.append(f"{name}: spark {len(rows)} rows vs oracle {len(orows)}")
            elif not reference.check_detects(same, rows):
                bad.append(f"{name}: empty result, or the check accepted a perturbed one")
        # every timed output equals the checked one: same row count and
        # order-insensitive hash sum, observed while it was written
        want = {name: [tuple(obs.get.values())] for name, (_, _, obs) in self.results.items()}
        for name, obs in self.timed:
            got = [tuple(obs.get.values())]
            if got != want[name]:
                bad.append(f"{name}: timed output {got} differs from the checked one {want[name]}")
            elif not reference.check_detects(lambda r, w=want[name]: r == w, got):
                bad.append(f"{name}: the check accepted a perturbed timed output")
        if bad:
            return False, "; ".join(bad)
        return True, (
            f"{len(QUERIES)} queries hash-equal to their DuckDB oracles; "
            f"{len(self.timed)} timed outputs equal to them"
        )

    def layer_metrics(self, n_ops: int) -> dict[str, float]:
        out = {}
        for name in QUERIES:
            for part in ("plan", "exec"):
                spans = [
                    (s["end"] - s["start"]) * 1000.0
                    for s in self.tracer.spans
                    if s["name"] == f"query.{name}.{part}" and s["op"] is not None
                ]
                out[f"query.{name}.{part}_ms"] = median(spans)
        return out


WORKLOADS = {"live_trend": LiveTrend, "query_mix": QueryMix}
