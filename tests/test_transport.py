"""Transport-seam tests (VERDICT r2 item 7): the `dns` source's
transfer semantics behind :class:`ZoneTransport`, verified for BOTH the
file-store default (:class:`ZoneStore` itself) and the
dnspython-backed :class:`WireTransport` (wire injected — no dnspython /
live server in this container).

The fake wire emulates a real server's answer streams (RFC 5936 AXFR /
RFC 1995 IXFR record shapes) straight from a ZoneStore's state, so the
equivalence tests prove: for the same zone history, WireTransport's
parsed rows == the ZoneStore's own rows, transfer for transfer.
"""

from __future__ import annotations

import os

import pytest

from spark_dns_spark.sources.transport import (
    BIN_BYTES,
    WireTransport,
    ZoneTransport,
    parse_xfr_stream,
)
from spark_dns_spark.sources.zonestore import (
    AXFR,
    IXFR_ADD,
    IXFR_DELETE,
    ZoneStore,
)

ZONE = "example.org."


def _soa(serial: int):
    return ("SOA", ZONE, f"ns1.{ZONE} hostmaster.{ZONE} {serial}", serial)


def _ns():
    return ("NS", ZONE, f"ns1.{ZONE}", 0)


def _a(fqdn: str, ip: str):
    return ("A", fqdn, ip, 0)


def fake_wire(store: ZoneStore, zone: str):
    """Answer streams a live server would send for this store's state."""

    def wire(z: str, serial: int):
        assert z == zone
        d = store._load(zone)
        cur = int(d["serial"])
        if serial >= cur:
            return [_soa(cur)]  # up-to-date: single SOA
        base = int(d.get("base_serial", 0))
        have = {int(h[0]) for h in d["history"]}
        journal_ok = all(s in have for s in range(serial + 1, cur + 1))
        if serial == 0 or serial < base or not journal_ok:
            # AXFR-shaped: SOA, whole zone (incl. NS), SOA
            body = [_a(f, ip) for f, ip in d["records"]]
            return [_soa(cur), _ns(), *body, _soa(cur)]
        # IXFR-shaped: SOA(cur), then per-version transitions
        out = [_soa(cur)]
        for s in range(serial + 1, cur + 1):
            chg = [h for h in d["history"] if int(h[0]) == s]
            out.append(_soa(s - 1))
            out.extend(_a(h[2], h[3]) for h in chg if h[1] == IXFR_DELETE)
            out.append(_soa(s))
            out.extend(_a(h[2], h[3]) for h in chg if h[1] != IXFR_DELETE)
        out.append(_soa(cur))
        return out

    return wire


@pytest.fixture()
def store(tmp_path):
    st = ZoneStore(str(tmp_path / "zones"))
    st.create_zone(ZONE, records=[("a.example.org.", "10.0.0.1")], serial=3)
    st.apply_update(ZONE, [(IXFR_ADD, "b.example.org.", "10.0.0.2")])  # s4
    st.apply_update(
        ZONE,
        [
            (IXFR_DELETE, "a.example.org.", "10.0.0.1"),
            (IXFR_ADD, "c.example.org.", "10.0.0.3"),
        ],
    )  # serial 5
    return st


def _transports(store):
    file_t = ZoneStore(store.root)
    wire_t = WireTransport(
        "dns.example",
        wire=fake_wire(store, ZONE),
        serial_wire=lambda z: store.serial(z),
    )
    return file_t, wire_t


@pytest.mark.parametrize(
    "from_serial,to_serial,axfr",
    [
        (0, None, True),  # AXFR
        (0, None, False),  # serial-0 IXFR ⇒ snapshot
        (3, None, False),  # delta
        (3, 4, False),  # bounded delta
        (1, None, False),  # below the journal base ⇒ snapshot fallback
        (0, 4, False),  # bounded snapshot (replayed history)
    ],
)
def test_file_store_transfer_parses_the_zone_once(
    store, monkeypatch, from_serial, to_serial, axfr
):
    loads = []
    load = ZoneStore._load
    monkeypatch.setattr(
        ZoneStore, "_load", lambda self, z: loads.append(z) or load(self, z)
    )
    t = ZoneStore(store.root)
    t.check_connect()
    t.transfer(ZONE, from_serial, to_serial, axfr)
    assert loads == [ZONE]


def test_size_hints(store):
    file_t, wire_t = _transports(store)
    assert file_t.size_hint(ZONE) == os.path.getsize(store._path(ZONE))
    assert file_t.size_hint("unserved.zone.") == 0
    # a server reports no sizes: a zone fills a read partition
    assert wire_t.size_hint(ZONE) == BIN_BYTES


# -- transport equivalence: same store state, same rows ---------------


def test_serial_poll_matches(store):
    file_t, wire_t = _transports(store)
    assert file_t.serial(ZONE) == wire_t.serial(ZONE) == 5


def test_axfr_full_snapshot_matches(store):
    file_t, wire_t = _transports(store)
    f = file_t.transfer(ZONE, 0, None, axfr=True)
    w = wire_t.transfer(ZONE, 0, None, axfr=True)
    assert f.kind == w.kind == AXFR
    assert f.serial == w.serial == 5
    assert sorted(f.rows) == sorted(w.rows)
    assert all(r[0] == AXFR for r in w.rows)
    # NS/SOA records crossed the wire but were filtered (P1)
    assert {r[1] for r in w.rows} == {"b.example.org.", "c.example.org."}


def test_ixfr_delta_matches(store):
    file_t, wire_t = _transports(store)
    f = file_t.transfer(ZONE, 3, None, axfr=False)
    w = wire_t.transfer(ZONE, 3, None, axfr=False)
    assert f.serial == w.serial == 5
    assert sorted(f.rows) == sorted(w.rows)
    assert (IXFR_DELETE, "a.example.org.", "10.0.0.1") in w.rows


def test_ixfr_bounded_matches(store):
    file_t, wire_t = _transports(store)
    f = file_t.transfer(ZONE, 3, 4, axfr=False)
    w = wire_t.transfer(ZONE, 3, 4, axfr=False)
    assert f.serial == w.serial == 4
    assert sorted(f.rows) == sorted(w.rows) == [
        (IXFR_ADD, "b.example.org.", "10.0.0.2")
    ]


def test_up_to_date_matches(store):
    file_t, wire_t = _transports(store)
    f = file_t.transfer(ZONE, 5, None, axfr=False)
    w = wire_t.transfer(ZONE, 5, None, axfr=False)
    assert f.rows == w.rows == []
    assert f.serial == w.serial == 5


def test_serial0_ixfr_request_answers_full_zone(store):
    # Xfr.java:43-46: serial==0 initial sync ⇒ AXFR result regardless
    # of the IXFR request type.
    _, wire_t = _transports(store)
    w = wire_t.transfer(ZONE, 0, None, axfr=False)
    assert w.kind == AXFR
    assert all(r[0] == AXFR for r in w.rows)
    assert len(w.rows) == 2


# -- pure answer-stream parser ----------------------------------------


def test_parse_axfr_shape():
    res = parse_xfr_stream(
        [_soa(7), _ns(), _a("x.", "1.2.3.4"), _a("y.", "5.6.7.8"), _soa(7)]
    )
    assert res.kind == AXFR
    assert res.serial == 7
    assert res.rows == [(AXFR, "x.", "1.2.3.4"), (AXFR, "y.", "5.6.7.8")]


def test_parse_ixfr_transitions_and_bound():
    stream = [
        _soa(3),
        _soa(1), _a("old.", "1.1.1.1"), _soa(2), _a("new.", "2.2.2.2"),
        _soa(2), _soa(3), _a("newer.", "3.3.3.3"),
        _soa(3),
    ]
    res = parse_xfr_stream(stream)
    assert res.kind == "IXFR" and res.serial == 3
    assert res.rows == [
        (IXFR_DELETE, "old.", "1.1.1.1"),
        (IXFR_ADD, "new.", "2.2.2.2"),
        (IXFR_ADD, "newer.", "3.3.3.3"),
    ]
    # bound at 2: the 2→3 transition is dropped, serial capped
    res2 = parse_xfr_stream(stream, bound=2)
    assert res2.serial == 2
    assert res2.rows == [
        (IXFR_DELETE, "old.", "1.1.1.1"),
        (IXFR_ADD, "new.", "2.2.2.2"),
    ]


def test_parse_up_to_date_single_soa():
    res = parse_xfr_stream([_soa(9)])
    assert res.kind == "IXFR" and res.serial == 9 and res.rows == []


def test_parse_axfr_cannot_be_bounded():
    with pytest.raises(OSError, match="cannot be bounded"):
        parse_xfr_stream([_soa(7), _a("x.", "1.2.3.4"), _soa(7)], bound=5)


def test_parse_malformed_streams():
    with pytest.raises(OSError, match="empty transfer"):
        parse_xfr_stream([])
    with pytest.raises(OSError, match="want SOA"):
        parse_xfr_stream([_a("x.", "1.2.3.4")])
    with pytest.raises(OSError, match="missing closing SOA"):
        parse_xfr_stream([_soa(3), _soa(1), _a("x.", "1.1.1.1")])


def test_parse_truncated_streams_raise():
    """RFC 1995/5936 terminator checks (ADVICE r3): a TCP stream cut
    off mid-answer must never pass as a valid, smaller result."""
    # IXFR cut right after an adds run (no trailing SOA(final))
    with pytest.raises(OSError, match="missing trailing SOA"):
        parse_xfr_stream(
            [_soa(3), _soa(2), _soa(3), _a("x.", "1.1.1.1")]
        )
    # IXFR cut at the SOA(old) of a follow-on transition: last record
    # is a SOA, but not the terminator
    with pytest.raises(OSError, match="want terminator 3"):
        parse_xfr_stream(
            [_soa(3), _soa(1), _soa(2), _a("x.", "1.1.1.1"), _soa(2)]
        )
    # AXFR cut before the repeated SOA
    with pytest.raises(OSError, match="malformed AXFR: missing trailing"):
        parse_xfr_stream([_soa(7), _a("x.", "1.2.3.4"), _a("y.", "1.2.3.5")])


def test_wire_serial0_delete_run_raises():
    """A serial-0 initial sync whose IXFR-shaped answer carries a
    delete run is a protocol violation — surfaced, not relabeled into
    an AXFR add (ADVICE r3)."""
    def wire(z, serial):
        assert serial == 0
        return [
            _soa(2), _soa(1), _a("gone.", "9.9.9.9"), _soa(2),
            _a("new.", "1.1.1.1"), _soa(2),
        ]

    t = WireTransport("dns.example", wire=wire)
    with pytest.raises(OSError, match="delete run in a serial-0"):
        t.transfer(ZONE, 0, None, axfr=True)


def test_wire_transport_without_dnspython_raises():
    t = WireTransport("dns.example")
    with pytest.raises(OSError, match="dnspython"):
        t.transfer(ZONE, 0, None, axfr=True)
    with pytest.raises(OSError, match="dnspython"):
        t.serial(ZONE)


def test_zone_store_is_a_zone_transport(store):
    """ZoneStore joins the contract by registration, which checks
    nothing: pin that it defines every abstract method."""
    assert isinstance(store, ZoneTransport)
    missing = {
        m for m in ZoneTransport.__abstractmethods__
        if not callable(getattr(ZoneStore, m, None))
    }
    assert not missing


def test_make_transport_selects(tmp_path):
    from spark_dns_spark.sources.options import DnsOptions, DnsSourceOptions
    from spark_dns_spark.sources.transport import make_transport

    o1 = DnsSourceOptions.parse(
        {"store": str(tmp_path), "port": "5353", "timeout": "3"}
    )
    t = make_transport(o1)
    assert isinstance(t, ZoneStore)
    assert (t.root, t.port, t.timeout) == (str(tmp_path), 5353, 3.0)
    o2 = DnsSourceOptions.parse(
        {"store": "dns.example", "transport": "wire", "zones": ZONE}
    )
    t = make_transport(o2)
    assert isinstance(t, WireTransport)
    assert t.server == "dns.example" and t.port == 53
    # the sink's options carry no zones; a wire writer needs none
    o3 = DnsOptions.parse({"store": "dns.example", "transport": "wire"})
    assert isinstance(make_transport(o3), WireTransport)


def test_make_transport_wire_requires_zones(tmp_path):
    """transport=wire with no zones would plan zero partitions and
    silently succeed with no data (ADVICE r3) — the batch and streaming
    readers must raise at planning instead."""
    from spark_dns_spark.sources.dns_source import (
        DnsBatchReader,
        DnsStreamReader,
    )
    from spark_dns_spark.sources.options import OptionError

    opts = {"store": "dns.example", "transport": "wire"}
    match = "requires the 'zones' option"
    with pytest.raises(OptionError, match=match):
        WireTransport("dns.example").zones()
    with pytest.raises(OptionError, match=match):
        DnsBatchReader(opts).partitions()
    stream = DnsStreamReader({**opts, "progress-dir": str(tmp_path / "p")})
    with pytest.raises(OptionError, match=match):
        stream.initialOffset()
    with pytest.raises(OptionError, match=match):
        stream.latestOffset()
    # with zones named, planning never asks the server for its list
    assert DnsBatchReader({**opts, "zones": ZONE}).partitions()
