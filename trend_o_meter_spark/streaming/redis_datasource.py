"""Continuous pub/sub tail as a Spark 4 Python streaming DataSource.

The reference's runtime is an UNBOUNDED event loop: PSUBSCRIBE to the
sensor bus and process frames forever (trend-o-meter:382,446-450).  The
bounded drain (:func:`..transports.redis_source.poll_pubsub`) covers
parity tests; this module makes the backfill-and-tail shape run as ONE
long-lived Structured Streaming query:

    spark.dataSource.register(RedisPubSubDataSource)
    stream = (spark.readStream.format("redis_pubsub")
              .option("host", h).option("port", p)
              .option("pattern", "sensor").load())
    readings = pubsub_readings(stream)          # S2 envelope decode
    ...stream_day_bins(readings, ...)           # the live loop

Implementation notes (simple-reader API, driver-side by design):

* ``SimpleDataSourceStreamReader.read`` runs on the DRIVER — correct
  for a pub/sub bus: Redis delivers each message to each SUBSCRIBED
  connection once, so the consumer must be a single persistent
  subscription, not a per-executor fan-out.  Rows are then distributed;
  all downstream work (decode, downsample, day-bins) is cluster-side.
  Throughput ceiling is the bus itself, same as the reference's
  single-connection event loop.
* The subscription is a :class:`..transports.resp.Subscriber` — the
  same subscribe and drain code as the durable firehose bridge —
  opened lazily on first ``read`` and held across micro-batches (a
  fresh PSUBSCRIBE per batch would DROP frames published between
  batches — Redis pub/sub only delivers to connected subscribers).  A
  frame that stalls mid-transmission drops the connection and the next
  batch subscribes afresh, as the bridge does.
* Offsets count consumed frames.  Within a run, Spark's simple-reader
  wrapper caches prefetched batches for retry; across a RESTART the bus
  cannot replay (Redis drops what nobody consumed — the reference has
  the same at-most-once semantics, SURVEY §2.2 F6/F7), so
  ``readBetweenOffsets`` for an un-cached range returns empty rather
  than pretending.  Durable replay belongs to a log transport (Kafka),
  which this source deliberately does not impersonate.
* Optional one-shot BACKFILL: ``backfill_key`` LRANGEs the history list
  (the reference's S1 scan, trend-o-meter:289-290) into the FIRST batch
  before tailing — the reference's own startup sequence, decoded by
  the same :func:`..transports.redis_source.read_list_pairs` as every
  history reader.
"""

from __future__ import annotations

import json
from typing import TYPE_CHECKING, Iterator, Tuple

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader
from pyspark.sql.types import StructType

from ..transports.redis_source import read_list_pairs
from ..transports.resp import Subscriber

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame

PUBSUB_SCHEMA = "seq BIGINT, channel STRING, payload STRING"


class RedisPubSubDataSource(DataSource):
    """``format("redis_pubsub")`` — options:

    host, port (required); pattern (PSUBSCRIBE glob, default ``*``);
    poll_seconds (per-batch drain window, default 0.2);
    max_per_batch (admission cap per micro-batch, default 10000);
    backfill_key / backfill_max (optional LRANGE backfill into batch 0).
    """

    @classmethod
    def name(cls) -> str:
        return "redis_pubsub"

    def schema(self) -> str:
        return PUBSUB_SCHEMA

    def simpleStreamReader(self, schema: StructType) -> "_PubSubReader":
        return _PubSubReader(self.options)


class _PubSubReader(SimpleDataSourceStreamReader):
    def __init__(self, options) -> None:
        self.host = options["host"]
        self.port = int(options["port"])
        self.poll_seconds = float(options.get("poll_seconds", "0.2"))
        self.max_per_batch = int(options.get("max_per_batch", "10000"))
        self.backfill_key = options.get("backfill_key")
        self.backfill_max = int(options.get("backfill_max", "14400"))
        self._sub = Subscriber(self.host, self.port, options.get("pattern", "*"))

    # -- offsets -----------------------------------------------------------

    def initialOffset(self) -> dict:
        return {"seq": 0}

    def commit(self, end: dict) -> None:  # nothing to ack on a fire-and-forget bus
        pass

    # -- wire --------------------------------------------------------------

    def _backfill_rows(self) -> list[tuple[str, str]]:
        """One-shot LRANGE backfill, re-shaped as envelope payloads so
        batch 0 flows through the same decode as the tail.  The list
        holds newest-first ``[ts, value]`` pairs (trend-o-meter:289);
        the metric name is the middle segment of ``<sensor>:<metric>:.list``."""
        key = self.backfill_key
        parts = key.split(":")
        sensor = parts[0] if len(parts) > 2 else "sensor"
        metric = parts[1] if len(parts) > 2 else "value"
        return [
            (key, json.dumps({"ts": ts, "source": sensor, "value": {metric: val}}))
            for ts, val in read_list_pairs(self.host, self.port, key, self.backfill_max)
        ]

    # -- reads -------------------------------------------------------------

    def read(self, start: dict) -> Tuple[Iterator[Tuple], dict]:
        seq = int(start["seq"])
        rows: list[tuple[str, str]] = []
        if seq == 0 and self.backfill_key:
            rows.extend(self._backfill_rows())
        # subscribe BEFORE the backfill scan would be even safer against
        # the publish/scan race; subscribe() is idempotent so do it now
        # regardless of whether the drain budget is already spent
        self._sub.subscribe()
        if len(rows) < self.max_per_batch:
            rows.extend(
                (chan, payload.decode(errors="replace"))
                for chan, payload in self._sub.drain(
                    self.max_per_batch - len(rows), self.poll_seconds
                )
            )
        out = [(seq + i, chan, payload) for i, (chan, payload) in enumerate(rows)]
        return iter(out), {"seq": seq + len(out)}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[Tuple]:
        # Only reached on RESTART recovery for a batch Spark's own cache
        # lost: a pub/sub bus cannot re-serve dropped frames, so the
        # honest answer is the empty range (at-most-once across
        # restarts — the reference's own semantics).
        return iter([])


def pubsub_readings(stream: "DataFrame") -> "DataFrame":
    """Decode the raw ``(seq, channel, payload)`` tail into canonical
    long-format readings via the S2 envelope decoder — the same
    expressions every other source uses."""
    from .sources import decode_sensor_stream

    return decode_sensor_stream(stream, payload_col="payload")
