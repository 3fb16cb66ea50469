"""Durable firehose bridge: RESP2 pub/sub -> append-only segment log.

The live Spark 4 DataSource (:mod:`..streaming.redis_datasource`) reads
the pub/sub bus directly, but the bus itself has NO replay — Redis
drops what nobody consumed, so that reader is honestly AT-MOST-ONCE
across restarts (its ``readBetweenOffsets`` returns the empty range on
restart recovery, by design).  At 1000-executor scale a restart gap is
routine, so SCALE.md routes durable feeds through a replayable log.
This module is that recipe as executable code:

* :class:`DurableFirehoseBridge` — a driver-side drain process that
  holds ONE long-lived PSUBSCRIBE connection (a :class:`.resp.Subscriber`,
  the same wire code as the raw DataSource) and appends every push
  frame to JSONL SEGMENT files, published atomically (write to a
  dot-prefixed temp name Spark's file listings ignore, fsync, then
  ``os.rename``) so a reader never observes a half-written segment;
* :func:`bridge_stream` — the Spark side: a plain file streaming
  source over the segment directory.  Files are immutable once
  published, so Spark's own checkpointing makes the handoff
  EXACTLY-ONCE across reader restarts: frames drained while NO reader
  was running wait in segments, and a restarted query resumes from its
  checkpoint without loss or duplication (test-pinned against the raw
  DataSource's documented drop).

The durability window starts when the bridge subscribes — pub/sub
cannot re-serve frames published while the BRIDGE itself was down
(that residual gap belongs to the publisher; the reference's own bus
semantics, trend-o-meter:446).  Deploy the bridge as a tiny supervised
process per bus, segments on shared/object storage; Spark readers come
and go freely.  Kafka occupies the same seam — the segment log is the
dependency-free stand-in with identical replay semantics.
"""

from __future__ import annotations

import json
import os
import time
from pathlib import Path

from .resp import Subscriber

BRIDGE_SCHEMA = "channel string, payload string, recv_ts double"
_SEG_PREFIX = "seg-"


class DurableFirehoseBridge:
    """Drain ``PSUBSCRIBE pattern`` into ``log_dir`` segment files.

    One call to :meth:`drain_segment` collects frames for at most
    ``poll_seconds`` (or until ``max_messages``) and publishes them as
    one immutable segment; call it in a loop (or from a scheduler) for
    the continuous form.  The subscription survives across calls — no
    frames are lost BETWEEN segments."""

    def __init__(
        self,
        host: str,
        port: int,
        *,
        pattern: str = "*",
        log_dir: str,
        poll_seconds: float = 0.5,
        max_messages: int = 10_000,
    ) -> None:
        self.log_dir = Path(log_dir)
        self.log_dir.mkdir(parents=True, exist_ok=True)
        self.poll_seconds = float(poll_seconds)
        self.max_messages = int(max_messages)
        self._sub = Subscriber(host, port, pattern)

    # -- segments ----------------------------------------------------------

    def _next_segment_index(self) -> int:
        idx = -1
        for p in self.log_dir.glob(f"{_SEG_PREFIX}*.jsonl"):
            try:
                idx = max(idx, int(p.stem[len(_SEG_PREFIX):]))
            except ValueError:
                continue
        return idx + 1

    def drain_segment(
        self, *, max_messages: int | None = None, poll_seconds: float | None = None
    ) -> int:
        """One bounded drain -> at most one atomically-published segment.
        Returns the number of frames published (0 writes no file)."""
        rows = [
            (chan, payload.decode(errors="replace"), time.time())
            for chan, payload in self._sub.drain(
                max_messages or self.max_messages,
                self.poll_seconds if poll_seconds is None else float(poll_seconds),
            )
        ]
        if not rows:
            return 0
        seg = self.log_dir / f"{_SEG_PREFIX}{self._next_segment_index():012d}.jsonl"
        tmp = seg.with_name("." + seg.name + ".tmp")  # dot-prefixed: invisible to Spark
        with open(tmp, "w") as fh:
            for chan, payload, ts in rows:
                fh.write(
                    json.dumps(
                        {"channel": chan, "payload": payload, "recv_ts": ts}
                    )
                    + "\n"
                )
            fh.flush()
            os.fsync(fh.fileno())
        os.rename(tmp, seg)  # atomic publish: readers see whole segments only
        return len(rows)

    def close(self) -> None:
        self._sub.close()

    def __enter__(self) -> "DurableFirehoseBridge":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


def bridge_stream(spark, log_dir: str):
    """Streaming DataFrame over the bridge's segment log — a plain file
    source, so Spark's checkpointing gives exactly-once delivery across
    reader restarts (the property the raw pub/sub DataSource cannot
    offer).  Schema: ``channel, payload, recv_ts``; feed ``payload``
    to the same S2 envelope decode as every other source
    (``streaming.sources.decode_sensor_stream``)."""
    return (
        spark.readStream.schema(BRIDGE_SCHEMA)
        .option("pathGlobFilter", f"{_SEG_PREFIX}*.jsonl")
        .json(str(log_dir))
    )


def bridge_table(spark, log_dir: str):
    """Batch view of the same log (backfill / audit)."""
    return (
        spark.read.schema(BRIDGE_SCHEMA)
        .option("pathGlobFilter", f"{_SEG_PREFIX}*.jsonl")
        .json(str(log_dir))
    )
