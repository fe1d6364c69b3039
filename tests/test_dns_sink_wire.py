"""Wire-level DDNS UPDATE sink e2e (VERDICT-r7 item 1) — the write-side
twin of the read path's loopback-socket tests.

The reference's sink builds a real RFC 2136 Update message and
TCP-sends it, requiring rcode==0 (``spark/write/DnsUpdate.java:46-81``),
and its tests verify by RESOLVING every written fqdn against the live
server (``DnsSinkRelationProviderTest.java:182-197``).  Here the live
server is :class:`tests.dnswire.LoopbackDnsServer` (real 127.0.0.1 TCP,
RFC 1035 §4.2.2 framing) whose UPDATE handler mutates a
:class:`ZoneStore` — so ``store.resolve`` stays the oracle while every
byte of the update travels over a genuine socket from the executor
processes.
"""

from __future__ import annotations

import datetime as dt
import socket

import pytest

import tests.dnswire as dnswire
from spark_dns_spark.sources import register_all
from spark_dns_spark.sources.update_wire import (
    encode_update_message,
    parse_update_response,
    send_update,
)
from spark_dns_spark.sources.transport import WireTransport
from spark_dns_spark.sources.zonestore import ZoneNotFoundError, ZoneStore

SCHEMA = "action string, fqdn string, ip string, timestamp timestamp, ttl int"


# --------------------------------------------------------------- codec
def test_update_codec_roundtrip():
    changes = [
        ("IXFR_ADD", "a.ex.test.", "10.0.0.1", 300),
        ("AXFR", "b.ex.test.", "10.0.0.2", 60),
        ("IXFR_DELETE", "c.ex.test.", "10.0.0.3", 999),  # ttl forced to 0
    ]
    wire = encode_update_message("ex.test.", changes, mid=0xBEEF)
    assert dnswire.message_opcode(wire) == dnswire.OPCODE_UPDATE
    mid, zone, decoded = dnswire.parse_update_message(wire)
    assert mid == 0xBEEF
    assert zone == "ex.test."
    # both add actions are class IN on the wire; delete is class NONE
    assert decoded == [
        ("add", "a.ex.test.", "10.0.0.1", 300),
        ("add", "b.ex.test.", "10.0.0.2", 60),
        ("delete", "c.ex.test.", "10.0.0.3", 0),
    ]


def test_update_response_rcode_and_id_check():
    ok = dnswire.build_update_response(7, "ex.test.", 0)
    assert parse_update_response(ok, 7) == 0
    refused = dnswire.build_update_response(7, "ex.test.", 5)
    assert parse_update_response(refused, 7) == 5
    with pytest.raises(OSError, match="id mismatch"):
        parse_update_response(ok, 8)
    with pytest.raises(OSError, match="truncated"):
        parse_update_response(b"\x00\x07", 7)


# ------------------------------------------------------------- fixture
@pytest.fixture()
def wire(tmp_path):
    """(server, backing ZoneStore): UPDATEs apply to the store through
    the socket; unknown zone answers NOTAUTH like a real authoritative
    server (DnsUpdateTest.java:60-75)."""
    zstore = ZoneStore(str(tmp_path / "zones"))
    zstore.create_zone("example.acme.", records=[], serial=1)

    def handler(zone: str, changes) -> int:
        if zone not in zstore.zones():
            return dnswire.RCODE_NOTAUTH
        zstore.apply_update(
            zone,
            [
                ("IXFR_ADD" if action == "add" else "IXFR_DELETE", fqdn, ip)
                for action, fqdn, ip, _ttl in changes
            ],
        )
        return 0

    server = dnswire.LoopbackDnsServer(
        script=lambda zone, serial: [], update_handler=handler
    )
    try:
        yield server, zstore
    finally:
        server.close()


def _update_rows():
    # same generator as the store-transport tests
    # (DnsSinkRelationProviderTest.java:199-209)
    base = dt.datetime(2024, 1, 1)
    return [
        (
            "IXFR_ADD" if i < 5 else "IXFR_DELETE",
            f"host{i}.example.acme",
            f"127.0.0.{i % 256}",
            base + dt.timedelta(seconds=i),
            i + 1,
        )
        for i in range(10)
    ]


# ----------------------------------------------------------------- e2e
def test_wire_batch_write_then_resolve(spark, wire):
    server, zstore = wire
    zstore.apply_update(
        "example.acme.",
        [
            ("IXFR_ADD", f"host{i}.example.acme.", f"127.0.0.{i}")
            for i in range(5, 10)
        ],
    )
    register_all(spark)
    df = spark.createDataFrame(_update_rows(), SCHEMA)
    (
        df.write.format("dns_update")
        .option("server", "127.0.0.1")
        .option("port", str(server.port))
        .option("transport", "wire")
        .mode("append")
        .save()
    )
    # resolve oracle (DnsSinkRelationProviderTest.java:182-197)
    for i in range(5):
        assert zstore.resolve("example.acme.", f"host{i}.example.acme.") == [
            f"127.0.0.{i}"
        ]
    for i in range(5, 10):
        assert zstore.resolve("example.acme.", f"host{i}.example.acme.") == []
    # the server really saw RFC 2136 UPDATEs: adds class IN w/ row ttl,
    # deletes class NONE w/ ttl 0
    upd = [r for r in server.requests if r["qtype"] == "UPDATE"]
    assert upd, "no UPDATE message reached the socket"
    seen = {(a, f, ip, t) for r in upd for a, f, ip, t in r["changes"]}
    assert ("add", "host0.example.acme.", "127.0.0.0", 1) in seen
    assert ("delete", "host9.example.acme.", "127.0.0.9", 0) in seen


def test_wire_unknown_zone_notauth_raises(spark, wire):
    server, _ = wire
    register_all(spark)
    df = spark.createDataFrame(
        [("IXFR_ADD", "a.no.such.zone", "1.1.1.1", dt.datetime(2024, 1, 1), 1)],
        SCHEMA,
    )
    with pytest.raises(Exception, match="not authoritative"):
        (
            df.write.format("dns_update")
            .option("server", "127.0.0.1")
            .option("port", str(server.port))
            .option("transport", "wire")
            .mode("append")
            .save()
        )


def test_wire_unknown_zone_ignored_when_asked(spark, wire):
    server, zstore = wire
    register_all(spark)
    rows = [
        ("IXFR_ADD", "a.no.such.zone", "1.1.1.1", dt.datetime(2024, 1, 1), 1),
        ("IXFR_ADD", "ok.example.acme", "2.2.2.2", dt.datetime(2024, 1, 1), 1),
    ]
    df = spark.createDataFrame(rows, SCHEMA).coalesce(1)
    (
        df.write.format("dns_update")
        .option("server", "127.0.0.1")
        .option("port", str(server.port))
        .option("transport", "wire")
        .option("ignore-failures", "true")
        .mode("append")
        .save()
    )
    assert zstore.resolve("example.acme.", "ok.example.acme.") == ["2.2.2.2"]


def test_wire_nonzero_rcode_raises(spark, tmp_path):
    # any non-NOERROR, non-NOTAUTH rcode is a hard failure regardless of
    # ignore-failures (DnsUpdate.java:76-80)
    server = dnswire.LoopbackDnsServer(
        script=lambda z, s: [], update_handler=lambda z, c: 2  # SERVFAIL
    )
    try:
        register_all(spark)
        df = spark.createDataFrame(
            [("IXFR_ADD", "h.example.acme", "1.1.1.1",
              dt.datetime(2024, 1, 1), 1)],
            SCHEMA,
        )
        with pytest.raises(Exception, match="SERVFAIL"):
            (
                df.write.format("dns_update")
                .option("server", "127.0.0.1")
                .option("port", str(server.port))
                .option("transport", "wire")
                .option("ignore-failures", "true")
                .mode("append")
                .save()
            )
    finally:
        server.close()


def test_update_contract_matches_across_transports(wire, tmp_path):
    """ZoneTransport.update without Spark: one add/delete sequence
    through the file store and through RFC 2136 messages to the
    loopback server leaves the same records; an unknown zone raises
    ZoneNotFoundError on both."""
    server, zstore = wire
    direct = ZoneStore(str(tmp_path / "direct"))
    direct.create_zone("example.acme.", records=[], serial=1)
    steps = [
        [("IXFR_ADD", "a.example.acme.", "10.0.0.1", 60),
         ("AXFR", "b.example.acme.", "10.0.0.2", 60)],
        [("IXFR_DELETE", "a.example.acme.", "10.0.0.1", 0),
         ("IXFR_ADD", "a.example.acme.", "10.0.0.3", 60),
         ("IXFR_ADD", "b.example.acme.", "10.0.0.4", 60)],
    ]
    transports = (direct, WireTransport("127.0.0.1", port=server.port))
    for changes in steps:
        for t in transports:
            t.update("example.acme.", changes)
    for fqdn in ("a.example.acme.", "b.example.acme."):
        assert direct.resolve("example.acme.", fqdn) == zstore.resolve(
            "example.acme.", fqdn
        )
    assert zstore.resolve("example.acme.", "a.example.acme.") == ["10.0.0.3"]
    assert direct.serial("example.acme.") == zstore.serial("example.acme.") == 3
    for t in transports:
        with pytest.raises(ZoneNotFoundError):
            t.update("no.such.zone.", steps[0])


def test_wire_connection_refused_raises():
    # grab a port that is definitely closed
    s = socket.socket()
    s.bind(("127.0.0.1", 0))
    port = s.getsockname()[1]
    s.close()
    with pytest.raises(OSError):
        send_update(
            "127.0.0.1", port, 2.0, "example.acme.",
            [("IXFR_ADD", "h.example.acme.", "1.1.1.1", 60)],
        )


def test_wire_sql_insert(spark, wire):
    """S9 over sockets: INSERT INTO a dns_update temp view whose
    options select the wire transport."""
    server, zstore = wire
    register_all(spark)
    spark.sql(
        f"""CREATE OR REPLACE TEMPORARY VIEW dns_wire_out USING dns_update
            OPTIONS (server '127.0.0.1', port '{server.port}',
                     transport 'wire')"""
    )
    spark.sql(
        """INSERT INTO dns_wire_out
           SELECT 'IXFR_ADD' AS action, 'sqlwire.example.acme' AS fqdn,
                  '8.8.4.4' AS ip, TIMESTAMP '2024-01-01 00:00:00' AS timestamp,
                  60 AS ttl"""
    )
    assert zstore.resolve("example.acme.", "sqlwire.example.acme.") == ["8.8.4.4"]


def test_wire_send_updates_global_dedup(spark, wire):
    """send_updates' global dedup + zone repartition composes with the
    wire transport: conflicting updates across partitions collapse to
    one message stream, latest wins."""
    server, zstore = wire
    register_all(spark)
    base = dt.datetime(2024, 1, 1)
    rows = [
        ("IXFR_ADD", "w.example.acme", "3.3.3.3", base, 1),
        ("IXFR_DELETE", "w.example.acme", "3.3.3.3",
         base + dt.timedelta(hours=1), 1),
    ]
    from spark_dns_spark.sources.dns_sink import send_updates

    df = spark.createDataFrame(rows, SCHEMA).repartition(2)
    send_updates(
        df, "127.0.0.1", transport="wire", port=str(server.port)
    )
    # add applies then the later delete: resolves to nothing
    assert zstore.resolve("example.acme.", "w.example.acme.") == []


def test_wire_streaming_sink(spark, wire, tmp_path):
    """S10 over sockets: native writeStream.format('dns_update') with
    transport=wire — each micro-batch becomes RFC 2136 messages."""
    server, zstore = wire
    register_all(spark)
    src = spark.createDataFrame(_update_rows()[:5], SCHEMA)
    path = str(tmp_path / "stream_src")
    src.write.mode("overwrite").parquet(path)
    q = (
        spark.readStream.schema(src.schema)
        .parquet(path)
        .writeStream.format("dns_update")
        .option("server", "127.0.0.1")
        .option("port", str(server.port))
        .option("transport", "wire")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    for i in range(5):
        assert zstore.resolve("example.acme.", f"host{i}.example.acme.") == [
            f"127.0.0.{i}"
        ]


# ------------------------------------------------------- 64KB chunking
def test_chunk_changes_respects_frame_cap_and_order():
    """ADVICE r8: a zone batch of >~2000 changes overflows the 64KB TCP
    frame; chunk_changes must split it so every message encodes, with
    apply order preserved across chunks."""
    from spark_dns_spark.sources.update_wire import (
        MAX_MESSAGE,
        chunk_changes,
    )

    changes = [
        ("IXFR_ADD", f"h{i:05d}.bulk.example.acme.", f"10.{i // 256 % 256}.{i % 256}.1", 300)
        for i in range(3000)
    ]
    chunks = chunk_changes("example.acme.", changes)
    assert len(chunks) > 1
    # order preserved: concatenation reproduces the input exactly
    assert [c for ch in chunks for c in ch] == changes
    # every chunk encodes within the frame cap (the pre-fix path threw
    # OverflowError from len(wire).to_bytes(2, ...))
    for i, ch in enumerate(chunks):
        wire = encode_update_message("example.acme.", ch, mid=i)
        assert len(wire) <= MAX_MESSAGE


def test_single_message_over_cap_raises_clearly():
    from spark_dns_spark.sources.update_wire import encode_update_message

    changes = [
        ("IXFR_ADD", f"h{i:05d}.bulk.example.acme.", "10.0.0.1", 300)
        for i in range(3000)
    ]
    with pytest.raises(ValueError, match="chunk the change list"):
        encode_update_message("example.acme.", changes, mid=1)


def test_wire_send_large_batch_chunks_in_order(wire):
    """e2e: send_update streams a >64KB change list as multiple in-order
    UPDATE messages over ONE connection; the store applies all of them
    and latest-wins semantics hold across a chunk boundary."""
    server, zstore = wire
    n = 2500
    changes = [
        ("IXFR_ADD", f"h{i:04d}.example.acme.", f"10.{i // 250}.{i % 250}.9", 300)
        for i in range(n)
    ]
    # same fqdn added early then deleted at the very end: the delete
    # must apply AFTER the add even though they land in different
    # chunks
    changes.append(("IXFR_DELETE", "h0000.example.acme.", "10.0.0.9", 0))
    send_update("127.0.0.1", server.port, 15.0, "example.acme.", changes)
    msgs = [r for r in server.requests if r["qtype"] == "UPDATE"]
    assert len(msgs) > 1, "expected the batch to span multiple messages"
    assert sum(len(m["changes"]) for m in msgs) == n + 1
    # spot-resolve: middle + last host present, deleted host gone
    assert zstore.resolve("example.acme.", "h1250.example.acme.") == ["10.5.0.9"]
    assert zstore.resolve("example.acme.", f"h{n - 1:04d}.example.acme.") == [
        "10.9.249.9"
    ]
    assert zstore.resolve("example.acme.", "h0000.example.acme.") == []


def test_chunk_changes_properties():
    """Property: for arbitrary change lists, chunking preserves order
    and content exactly, and every chunk encodes within the frame."""
    from hypothesis import given, settings, strategies as st

    from spark_dns_spark.sources.update_wire import (
        MAX_MESSAGE,
        chunk_changes,
    )

    label = st.text("abcdefghijklmnopqrstuvwxyz0123456789", min_size=1, max_size=20)
    change = st.tuples(
        st.sampled_from(["IXFR_ADD", "AXFR", "IXFR_DELETE"]),
        st.builds(lambda a, b: f"{a}.{b}.example.acme.", label, label),
        st.tuples(*[st.integers(0, 255)] * 4).map(
            lambda t: ".".join(map(str, t))
        ),
        st.integers(0, 86400),
    )

    @settings(max_examples=25, deadline=None)
    @given(st.lists(change, max_size=4000))
    def prop(changes):
        chunks = chunk_changes("example.acme.", changes)
        assert [c for ch in chunks for c in ch] == changes
        assert all(ch for ch in chunks)  # no empty chunk
        for i, ch in enumerate(chunks):
            assert len(encode_update_message("example.acme.", ch, mid=i)) <= MAX_MESSAGE

    prop()
