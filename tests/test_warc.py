"""WARC ingestion (llm/warc.py): framing roundtrip, gzip members,
malformed-record resync, HTTP envelope, end-to-end Spark operator."""

from __future__ import annotations

from trend_o_meter_spark.llm.warc import (
    http_response,
    parse_http_response,
    parse_warc,
    warc_build,
    warc_extract,
)

PAGES = [
    (f"http://s{i % 2}.example/{i}", f"<p>doc {i} body words here now</p>")
    for i in range(5)
]


def test_roundtrip_plain_and_gzip():
    for gz in (False, True):
        blob = warc_build(PAGES, gzip_records=gz)
        if gz:
            assert blob[:2] == b"\x1f\x8b"
        recs, err = parse_warc(blob)
        assert err == 0
        assert [h["warc-type"] for h, _ in recs] == ["warcinfo"] + ["response"] * 5
        for (uri, html), (h, payload) in zip(PAGES, recs[1:]):
            assert h["warc-target-uri"] == uri
            status, headers, body = parse_http_response(payload)
            assert status == 200
            assert headers["content-type"] == "text/html"
            assert body.decode() == html


def test_content_length_is_exact_byte_framing():
    blob = warc_build(PAGES, gzip_records=False)
    recs, _ = parse_warc(blob)
    for h, payload in recs:
        assert len(payload) == int(h["content-length"])


def test_record_ids_deterministic():
    a = warc_build(PAGES, gzip_records=False)
    b = warc_build(PAGES, gzip_records=False)
    assert a == b


def test_truncated_payload_counts_one_error():
    blob = warc_build(PAGES, gzip_records=False)
    recs, err = parse_warc(blob[: len(blob) - 10])
    assert err == 1
    assert len(recs) == 5  # all but the truncated final record


def test_bad_content_length_resyncs():
    blob = warc_build(PAGES, gzip_records=False)
    # corrupt the SECOND record's length field (the first response)
    first = blob.find(b"Content-Length:", blob.find(b"WARC-Type: response"))
    end = blob.find(b"\r\n", first)
    bad = blob[:first] + b"Content-Length: zz" + blob[end:]
    recs, err = parse_warc(bad)
    assert err >= 1
    # every OTHER record still parses
    uris = [h.get("warc-target-uri") for h, _ in recs if h["warc-type"] == "response"]
    assert set(uris) >= {u for u, _ in PAGES[1:]}


def test_garbage_between_records_counted_and_skipped():
    r1 = warc_build(PAGES[:1], gzip_records=False)
    r2 = warc_build(PAGES[1:2], gzip_records=False)
    recs, err = parse_warc(r1 + b"NOISE-NOT-A-RECORD" + r2)
    assert err == 1
    assert sum(1 for h, _ in recs if h["warc-type"] == "response") == 2


def test_truncated_gzip_member_keeps_earlier_records():
    blob = warc_build(PAGES, gzip_records=True)
    recs, err = parse_warc(blob[: len(blob) - 15])
    assert err == 1
    assert len(recs) >= 4


def test_http_parse_tolerates_headerless_payload():
    assert parse_http_response(b"not http at all") == (0, {}, b"not http at all")
    assert parse_http_response(b"HTTP/1.1 banana\r\n\r\nx")[0] == 0


def test_http_status_passthrough():
    status, _, body = parse_http_response(http_response("<p>x</p>", status=404))
    assert status == 404 and body == b"<p>x</p>"


def test_spark_operator_end_to_end(spark):
    rows = [
        (i, f"s{i % 2}", "en", " ".join(f"w{j}" for j in range(10 + i)))
        for i in range(40)  # spans 3 chunks of 16
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, lang string, text string"
    )
    got = {r["doc_id"]: r for r in warc_extract(df).collect()}
    assert len(got) == 40
    assert {r["n_records"] for r in got.values()} == {16, 8}
    for doc_id, _, _, text in rows:
        r = got[doc_id]
        assert r["http_status"] == 200
        # main_text starts with the doc's first word and keeps word order
        words = text.split()
        flat = r["main_text"].replace("\n", " ").split()
        kept_expect = [
            w
            for p in range(0, len(words), 12)
            if len(words[p : p + 12]) >= 5
            for w in words[p : p + 12]
        ]
        assert flat == kept_expect


def test_spark_operator_chunk_carryover_across_arrow_batches(spark):
    """Round 14: warc_extract streams chunk-sorted rows through
    mapInPandas, carrying at most one incomplete chunk across Arrow
    batch boundaries.  Force tiny batches (smaller than a 16-doc chunk)
    so every chunk is split across several batches, and pin the output
    against the default-batch run."""
    rows = [
        (i, f"s{i % 2}", "en", " ".join(f"w{j}" for j in range(10 + i)))
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, lang string, text string"
    )
    expect = sorted(map(tuple, warc_extract(df).collect()))
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "5")
        got = sorted(map(tuple, warc_extract(df).collect()))
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    assert got == expect
    assert len(got) == 40


def test_spark_operator_under_auto_shuffle_partitions(spark, monkeypatch):
    """``spark.sql.shuffle.partitions=auto`` (a value some Spark
    distributions accept; open-source Spark rejects it at set time, so
    the conf read is patched here) must not crash the chunk
    repartition: it falls back to the default parallelism."""
    from pyspark.sql.conf import RuntimeConfig

    rows = [
        (i, f"s{i % 2}", "en", " ".join(f"w{j}" for j in range(10 + i)))
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, lang string, text string"
    )
    expect = sorted(map(tuple, warc_extract(df).collect()))
    real_get = RuntimeConfig.get

    def get(self, key, *args, **kwargs):
        if key == "spark.sql.shuffle.partitions":
            return "auto"
        return real_get(self, key, *args, **kwargs)

    monkeypatch.setattr(RuntimeConfig, "get", get)
    assert spark.conf.get("spark.sql.shuffle.partitions") == "auto"
    out = warc_extract(df)
    monkeypatch.undo()
    assert sorted(map(tuple, out.collect())) == expect


def test_fuzz_parser_never_raises():
    # Arbitrary mutations of a real archive (plain and gzip) and raw
    # noise must never raise — malformed records cost records, not tasks.
    import random

    rng = random.Random(43)
    for gz in (False, True):
        base = bytearray(warc_build(PAGES, gzip_records=gz))
        for trial in range(2500):
            b = bytearray(base)
            for _ in range(rng.randrange(1, 6)):
                op = rng.randrange(3)
                pos = rng.randrange(len(b))
                if op == 0:
                    b[pos] = rng.randrange(256)
                elif op == 1:
                    b.insert(pos, rng.randrange(256))
                else:
                    del b[pos]
            try:
                parse_warc(bytes(b))  # must not raise non-ValueError
            except ValueError:
                pass
    for trial in range(1000):
        n = rng.randrange(0, 300)
        parse_warc(bytes(rng.randrange(256) for _ in range(n)))
