"""Transport parity: the RESP client + Redis source adapters against an
in-process mock server speaking genuine RESP2 bytes.

The mock implements exactly the verbs the reference uses — LRANGE
(trend-o-meter:289), PSUBSCRIBE push frames (trend-o-meter:446,528) —
so the whole backfill-and-tail path executes over a real TCP socket
with real protocol framing, no external Redis needed.
"""

from __future__ import annotations

import json
import socket
import socketserver
import threading
import time

import pytest

from trend_o_meter_spark.transports.resp import (
    RespConnection,
    RespError,
    encode_command,
)


class MockRedis(socketserver.ThreadingTCPServer):
    allow_reuse_address = True
    daemon_threads = True

    def __init__(self):
        self.lists: dict[str, list[bytes]] = {}
        self.hashes: dict[str, dict[bytes, bytes]] = {}
        self.published: list[tuple[str, bytes]] = []  # queued for PSUBSCRIBE
        self.c2_queue: list[tuple[str, bytes]] = []  # queued for SUBSCRIBE
        self.publishes: list[tuple[str, bytes]] = []  # PUBLISH calls observed
        self.pubsub_seconds = 5.0  # how long (P)SUBSCRIBE handlers serve
        super().__init__(("127.0.0.1", 0), _Handler)

    @property
    def port(self) -> int:
        return self.server_address[1]


class _Handler(socketserver.StreamRequestHandler):
    def _send(self, data: bytes) -> None:
        self.wfile.write(data)
        self.wfile.flush()

    def _bulk(self, b: bytes) -> bytes:
        return b"$%d\r\n%s\r\n" % (len(b), b)

    def _array(self, items: list[bytes]) -> bytes:
        return b"*%d\r\n" % len(items) + b"".join(items)

    def _read_command(self):
        line = self.rfile.readline()
        if not line:
            return None
        assert line[:1] == b"*", line
        n = int(line[1:].strip())
        args = []
        for _ in range(n):
            hdr = self.rfile.readline()
            assert hdr[:1] == b"$"
            ln = int(hdr[1:].strip())
            args.append(self.rfile.read(ln))
            self.rfile.read(2)  # CRLF
        return args

    def handle(self):
        srv: MockRedis = self.server  # type: ignore[assignment]
        while True:
            cmd = self._read_command()
            if cmd is None:
                return
            verb = cmd[0].upper()
            if verb == b"LRANGE":
                key = cmd[1].decode()
                start, stop = int(cmd[2]), int(cmd[3])
                items = srv.lists.get(key, [])
                end = len(items) if stop == -1 else stop + 1  # inclusive stop
                self._send(self._array([self._bulk(i) for i in items[start:end]]))
            elif verb == b"HSET":
                key = cmd[1].decode()
                srv.hashes.setdefault(key, {})[cmd[2]] = cmd[3]
                self._send(b":1\r\n")
            elif verb == b"LPUSH":
                key = cmd[1].decode()
                srv.lists.setdefault(key, []).insert(0, cmd[2])
                self._send(b":%d\r\n" % len(srv.lists[key]))
            elif verb == b"PUBLISH":
                srv.publishes.append((cmd[1].decode(), cmd[2]))
                self._send(b":0\r\n")
            elif verb == b"SUBSCRIBE":
                chan = cmd[1]
                self._send(
                    self._array([self._bulk(b"subscribe"), self._bulk(chan), b":1\r\n"])
                )
                sent = 0
                deadline = time.time() + srv.pubsub_seconds
                while time.time() < deadline:
                    pending = [m for c, m in srv.c2_queue if c == chan.decode()]
                    if sent < len(pending):
                        self._send(
                            self._array(
                                [
                                    self._bulk(b"message"),
                                    self._bulk(chan),
                                    self._bulk(pending[sent]),
                                ]
                            )
                        )
                        sent += 1
                    else:
                        time.sleep(0.01)
                return
            elif verb == b"PSUBSCRIBE":
                pat = cmd[1]
                self._send(
                    self._array([self._bulk(b"psubscribe"), self._bulk(pat), b":1\r\n"])
                )
                # stream queued messages as push frames, then idle
                sent = 0
                deadline = time.time() + srv.pubsub_seconds
                while time.time() < deadline:
                    if sent < len(srv.published):
                        chan, payload = srv.published[sent]
                        sent += 1
                        self._send(
                            self._array(
                                [
                                    self._bulk(b"pmessage"),
                                    self._bulk(pat),
                                    self._bulk(chan.encode()),
                                    self._bulk(payload),
                                ]
                            )
                        )
                    else:
                        time.sleep(0.01)
                return
            else:
                self._send(b"-ERR unknown command %s\r\n" % verb)


@pytest.fixture()
def mock_redis():
    srv = MockRedis()
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        yield srv
    finally:
        srv.shutdown()
        srv.server_close()


def test_resp_encode_and_roundtrip(mock_redis):
    assert (
        encode_command("LRANGE", "k", 0, 3)
        == b"*4\r\n$6\r\nLRANGE\r\n$1\r\nk\r\n$1\r\n0\r\n$1\r\n3\r\n"
    )
    mock_redis.lists["k"] = [b"a", b"bb", b"ccc"]
    with RespConnection("127.0.0.1", mock_redis.port) as c:
        assert c.command("LRANGE", "k", 0, 1) == [b"a", b"bb"]
        assert c.command("LRANGE", "k", 0, -1) == [b"a", b"bb", b"ccc"]
        assert c.command("LRANGE", "missing", 0, 5) == []
        with pytest.raises(RespError, match="unknown command"):
            c.command("GETDEL", "k")


def test_history_list_reader_matches_reference_shape(mock_redis):
    """LRANGE backfill: newest-first JSON [ts, val] pairs, inclusive end
    index (up to max_len + 1 rows — the reference's own off-by-one,
    trend-o-meter:289)."""
    from trend_o_meter_spark.transports.redis_source import read_history_list

    rows = [[1700000000 - 60 * i, 20.0 + i] for i in range(10)]
    mock_redis.lists["sensor:temperature:.list"] = [
        json.dumps(r).encode() for r in rows
    ]
    got = read_history_list(
        "127.0.0.1", mock_redis.port, sensor="sensor", metric="temperature", max_len=4
    )
    assert got == [(float(t), float(v)) for t, v in rows[:5]]  # inclusive stop


def test_catalog_adapter_runs_flagship_over_live_redis(spark, mock_redis):
    """The transport-parity seam end-to-end: register the Redis reader,
    run the flagship day-bins aggregation over the socket-served data,
    and match the same computation over an identical local frame."""
    from pyspark.sql import functions as F

    from trend_o_meter_spark import catalog
    from trend_o_meter_spark.operators.daybins import day_binned_extremes
    from trend_o_meter_spark.transports.redis_source import register_redis_history

    base = 1700000000
    rows = [[base - 3600 * i, 20.0 + (i * 7) % 13] for i in range(200)]
    mock_redis.lists["sensor:temperature:.list"] = [
        json.dumps(r).encode() for r in rows
    ]
    register_redis_history(
        "127.0.0.1", mock_redis.port, name="sensor_history", sensor="sensor",
        metrics=("temperature",),
    )
    try:
        df = catalog.table(spark, "sensor_history", "/ignored")
        got = day_binned_extremes(df, ts="ts", value="value", metric="metric").collect()
    finally:
        catalog.register_source("sensor_history", None)
    local = spark.createDataFrame(
        [("temperature", float(t), float(v)) for t, v in rows],
        "metric string, ts double, value double",
    ).select("metric", F.timestamp_seconds("ts").alias("ts"), "value")
    want = day_binned_extremes(local, ts="ts", value="value", metric="metric").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(got) > 0


def test_poll_pubsub_drains_push_frames(mock_redis):
    from trend_o_meter_spark.transports.redis_source import poll_pubsub

    msgs = [("sensor", json.dumps({"ts": 1700000000 + i, "source": "sensor",
                                   "value": {"temperature": 20.0 + i}}).encode())
            for i in range(5)]
    mock_redis.published.extend(msgs)
    got = poll_pubsub("127.0.0.1", mock_redis.port, pattern="sensor",
                      max_messages=5, timeout=3.0)
    assert got == msgs


def test_c2_bridge_serves_commands_over_redis(spark, mock_redis):
    """S5/K2/K3 over the wire: commands drain from the SUBSCRIBE channel,
    truthy return values PUBLISH + HSET into the response hash (field =
    the command's first token, payload = JSON of retVal alone), every
    invocation LPUSHes the full envelope to the command log — the
    reference's exact key shapes and publish gate
    (trend-o-meter:167-169,243-262)."""
    import json as _json

    from trend_o_meter_spark.control.plane import ControlPlane
    from trend_o_meter_spark.transports.c2_bridge import serve_c2

    plane = ControlPlane(spark)
    chan = "c2:dev1|app1"
    cmds = [
        b"get config",
        b"set minDataHoursToRenderBin 20",
        b"set debug 0",        # valid but falsy retVal -> NOT published
        b"frobnicate now",     # unknown verb -> NOT published
    ]
    mock_redis.c2_queue.extend((chan, m) for m in cmds)
    n = serve_c2(
        plane, "127.0.0.1", mock_redis.port,
        device_id="dev1", app_id="app1", max_commands=4, timeout=5.0,
    )
    assert n == 4
    resp_hash = mock_redis.hashes[f"{chan}:resp"]
    # field = msgComps[0] (verb as typed), value = JSON.stringify(retVal)
    assert set(resp_hash) == {b"get", b"set"}
    assert "min_data_hours_to_render_bin" in str(_json.loads(resp_hash[b"get"]))
    assert _json.loads(resp_hash[b"set"]) == 20
    # rebind actually took effect on the engine config
    assert plane.config.min_data_hours_to_render_bin == 20
    # every invocation audited, newest first (LPUSH), invalid included
    log = [_json.loads(e) for e in mock_redis.lists[f"{chan}:cmdlog"]]
    assert len(log) == 4
    assert log[0]["valid"] is False and "frobnicate" in log[0]["message"]
    # `set debug 0` resolved fine: valid=true, falsy retVal, unpublished
    assert log[1]["valid"] is True and log[1]["retVal"] is False
    # exactly the two truthy results published
    assert [c for c, _ in mock_redis.publishes] == [f"{chan}:resp"] * 2


def _wait_for(pred, timeout=30.0, interval=0.2):
    deadline = time.time() + timeout
    while time.time() < deadline:
        if pred():
            return True
        time.sleep(interval)
    return False


def test_redis_pubsub_datasource_backfill_and_live_tail(spark, mock_redis, tmp_path):
    """The reference's unbounded runtime as ONE Structured Streaming
    query: the custom `redis_pubsub` DataSource backfills the history
    list (S1), PSUBSCRIBEs the bus, and frames PUBLISHED MID-QUERY land
    in the day-bins state table — the VERDICT r4 'continuous tail'
    criterion, over genuine RESP2 bytes."""
    from trend_o_meter_spark.streaming.pipeline import stream_day_bins
    from trend_o_meter_spark.streaming.redis_datasource import (
        RedisPubSubDataSource,
        pubsub_readings,
    )

    mock_redis.pubsub_seconds = 120.0
    base = 1_700_000_000
    # backfill: newest-first [ts, value] pairs (trend-o-meter:289)
    mock_redis.lists["sensor:temperature:.list"] = [
        json.dumps([base - 3600 * i, 20.0 + i]).encode() for i in range(5)
    ]

    spark.dataSource.register(RedisPubSubDataSource)
    stream = (
        spark.readStream.format("redis_pubsub")
        .option("host", "127.0.0.1")
        .option("port", str(mock_redis.port))
        .option("pattern", "sensor")
        .option("backfill_key", "sensor:temperature:.list")
        .option("poll_seconds", "0.3")
        .load()
    )
    readings = (
        pubsub_readings(stream)
        .filter("corrupt IS NULL")
        .select("ts", "metric", "value")
    )
    results: dict[str, list] = {}

    def on_result(batch_id, df):
        results["last"] = df.collect()

    kept, per_batch = stream_day_bins(
        readings,
        state_path=str(tmp_path / "state"),
        gap_seconds=60.0,
        day_bins=(1,),
        min_data_hours=0,
        retention_days=None,
        on_result=on_result,
    )
    q = (
        kept.writeStream.foreachBatch(per_batch)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        def day1_max():
            rows = [
                r for r in results.get("last", [])
                if r["metric"] == "temperature" and r["day_bin"] == "1"
            ]
            return rows[0]["max_val"] if rows else None

        # phase 1: the backfill era reaches the day-bins table (max = 24)
        assert _wait_for(lambda: day1_max() == 24.0, timeout=60.0), results.get("last")
        # phase 2: publish live frames MID-QUERY with a new extreme;
        # the running query must absorb them without a restart
        mock_redis.published.append(
            ("sensor", json.dumps(
                {"ts": base + 3600, "source": "sensor",
                 "value": {"temperature": 99.0}}).encode())
        )
        assert _wait_for(lambda: day1_max() == 99.0, timeout=60.0), results.get("last")
    finally:
        q.stop()


def test_firehose_bridge_exactly_once_across_reader_restart(spark, mock_redis, tmp_path):
    """The durable bridge closes the raw DataSource's documented
    at-most-once gap: frames drained while NO Spark reader is running
    wait in atomically-published segments, and a reader restarted from
    its checkpoint picks up exactly the new frames — 10 published, 10
    delivered, no loss, no duplicates.  The raw pub/sub reader's own
    restart recovery demonstrably drops (empty readBetweenOffsets)."""
    from trend_o_meter_spark.streaming.redis_datasource import _PubSubReader
    from trend_o_meter_spark.transports.firehose_bridge import (
        DurableFirehoseBridge,
        bridge_stream,
        bridge_table,
    )

    mock_redis.pubsub_seconds = 120.0
    log, ckpt, out = tmp_path / "fhlog", tmp_path / "ckpt", tmp_path / "out"

    def run_reader_to_completion():
        q = (
            bridge_stream(spark, str(log))
            .writeStream.format("json")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    msgs = [("sensor:m", b'{"i": %d}' % i) for i in range(10)]
    with DurableFirehoseBridge(
        "127.0.0.1", mock_redis.port, pattern="sensor:*", log_dir=str(log)
    ) as br:
        mock_redis.published.extend(msgs[:5])
        assert br.drain_segment(poll_seconds=3.0) == 5
        run_reader_to_completion()  # reader pass 1, then gone

        # frames keep flowing while no reader exists — the exact window
        # where the raw DataSource loses data
        mock_redis.published.extend(msgs[5:])
        assert br.drain_segment(poll_seconds=3.0) == 5

    run_reader_to_completion()  # restart from the same checkpoint

    delivered = sorted(
        r["payload"]
        for r in spark.read.schema("channel string, payload string, recv_ts double")
        .json(str(out))
        .collect()
    )
    assert delivered == sorted(p.decode() for _, p in msgs)  # 10/10, no dups

    # the batch/audit view sees the same frames
    assert bridge_table(spark, str(log)).count() == 10

    # contrast: the raw reader's restart recovery is the empty range —
    # at-most-once by design (its own docstring), which the bridge fixes
    raw = _PubSubReader({"host": "127.0.0.1", "port": str(mock_redis.port)})
    assert list(raw.readBetweenOffsets({"seq": 0}, {"seq": 5})) == []


def _bridge_consumer(port, tmp_path):
    """The durable bridge: one drain = one segment."""
    from trend_o_meter_spark.transports.firehose_bridge import DurableFirehoseBridge

    br = DurableFirehoseBridge(
        "127.0.0.1", port, pattern="sensor:*", log_dir=str(tmp_path / "fhlog")
    )
    return br._sub, lambda: br.drain_segment(poll_seconds=2.5)


def _reader_consumer(port, tmp_path):
    """The raw `redis_pubsub` reader: one drain = one micro-batch read."""
    from trend_o_meter_spark.streaming.redis_datasource import _PubSubReader

    rd = _PubSubReader(
        {"host": "127.0.0.1", "port": str(port), "pattern": "sensor:*", "poll_seconds": "2.5"}
    )
    offset = {"seq": 0}

    def drain():
        rows, end = rd.read(offset)
        offset.update(end)
        return len(list(rows))

    return rd._sub, drain


@pytest.mark.parametrize("consumer", [_bridge_consumer, _reader_consumer], ids=["bridge", "reader"])
def test_firehose_drain_desync_guard_reconnects_after_mid_frame_stall(tmp_path, consumer):
    """A push frame that stalls MID-TRANSMISSION used to poison the bridge:
    read_reply had already consumed the `*4` header + early bulk elements
    when the 1 s frame timeout fired, the old `break` kept the connection,
    and the NEXT drain parsed from the middle of the half-sent frame —
    RespError crash or silently dropped frames in the component whose whole
    purpose is durability.  Now the shared `Subscriber.drain` compares the
    connection's framing counter around the failed read: bytes consumed =>
    the stream can only resync by reconnecting, so it drops the connection
    and the next drain PSUBSCRIBEs afresh on a frame-aligned socket.  Also
    pinned: the 1 s per-frame drain bound no longer clobbers the
    constructor's 10 s timeout after the drain returns.  Both persistent
    consumers — the durable bridge and the raw DataSource reader — run on
    the same subscriber, so both obey the same rule."""

    pat = b"sensor:*"
    connections: list[int] = []

    def _pmsg(payload: bytes) -> bytes:
        return (
            b"*4\r\n$8\r\npmessage\r\n"
            + b"$%d\r\n%s\r\n" % (len(pat), pat)
            + b"$8\r\nsensor:m\r\n"
            + b"$%d\r\n%s\r\n" % (len(payload), payload)
        )

    class _StallHandler(socketserver.StreamRequestHandler):
        def handle(self):
            conn_no = len(connections)
            connections.append(conn_no)
            line = self.rfile.readline()  # *N of the PSUBSCRIBE command
            for _ in range(int(line[1:])):
                hdr = self.rfile.readline()
                self.rfile.read(int(hdr[1:]) + 2)
            self.wfile.write(
                b"*3\r\n$10\r\npsubscribe\r\n$%d\r\n%s\r\n:1\r\n" % (len(pat), pat)
            )
            if conn_no == 0:
                # one whole frame, then a frame that stops after its header
                # + type marker — the reader stalls mid-frame with the
                # header already consumed
                self.wfile.write(_pmsg(b"whole-0") + b"*4\r\n$8\r\npmessage\r\n")
                self.wfile.flush()
                time.sleep(8)  # outlive the 1 s frame timeout, never finish
            else:
                self.wfile.write(_pmsg(b"clean-1") + _pmsg(b"clean-2"))
                self.wfile.flush()
                time.sleep(3)  # keep the connection open past the drain

    srv = socketserver.ThreadingTCPServer(("127.0.0.1", 0), _StallHandler)
    srv.daemon_threads = True
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    sub, drain = consumer(srv.server_address[1], tmp_path)
    try:
        # drain 1: the whole frame lands; the mid-frame stall is
        # detected as a desync and the connection is dropped
        assert drain() == 1
        assert sub._conn is None
        # drain 2: fresh subscription, frames parse cleanly from byte 0
        # (pre-fix this parsed the stale half-frame -> RespError/garbage)
        assert drain() == 2
        assert sub._conn is not None
        # the drain's 1 s frame bound must not leak: constructor timeout
        assert sub._conn.sock.gettimeout() == 10.0
        assert connections == [0, 1]  # exactly one reconnect
    finally:
        sub.close()
        srv.shutdown()
        srv.server_close()
