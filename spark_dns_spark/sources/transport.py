"""DNS server transports — the one seam between the ``dns`` source's
planning/row logic, the ``dns_update`` sink's per-zone messages, and
HOW bytes reach a server.

The reference reaches its server two ways, both over TCP via dnsjava:
zone transfers (``xfr/Xfr.java:37-50``: always requests IXFR with the
given serial, lets the handler detect whether the *answer* was AXFR- or
IXFR-shaped, filters to A records, ``Xfr.java:76-81``) and DDNS updates
(``spark/write/DnsUpdate.java:46-81``).  Here one :class:`ZoneTransport`
object serves both formats, and :func:`make_transport` is the only
place that picks it:

- the deterministic file-backed :class:`~spark_dns_spark.sources.
  zonestore.ZoneStore` (default; no live server in the harness —
  SURVEY.md §5), registered as a :class:`ZoneTransport`;
- :class:`WireTransport`: dnspython transfers and RFC 2136 UPDATE
  messages (``update_wire.py``) against a real server.

Both transports honor the same contract, unit-tested in
``tests/test_transport.py`` and ``tests/test_dns_sink_wire.py``:

- ``transfer(zone, 0, None, axfr=True)`` → full AXFR snapshot;
- ``transfer(zone, n, hi, axfr=False)`` → deltas with
  ``n < serial <= hi`` (n == 0 or below retained history ⇒ AXFR
  fallback, classified by the ANSWER shape, not the request —
  SURVEY.md §7.3);
- only A records ever become rows (P1);
- ``update(zone, changes)`` applies one message of ``(action, fqdn,
  ip, ttl)`` changes;
- connection errors surface as ``OSError`` (suppressable on reads via
  ``ignore-failures``, never on writes), unknown zones as
  :class:`ZoneNotFoundError`.

``WireTransport`` splits into a pure, fully-tested answer-stream parser
(:func:`parse_xfr_stream` — RFC 5936/1995 record-stream shapes,
dnsjava-handler detection parity) and a thin wire callable that is
import-gated on ``dnspython`` (not present in this container) and
injectable for tests.
"""

from __future__ import annotations

from abc import ABC, abstractmethod
from collections.abc import Callable, Sequence

from spark_dns_spark.sources.options import DnsOptions, OptionError
from spark_dns_spark.sources.update_wire import UpdateRR, send_update
from spark_dns_spark.sources.zonestore import (
    AXFR,
    IXFR_ADD,
    IXFR_DELETE,
    TransferResult,
    ZoneNotFoundError,
    ZoneStore,
)

#: One resource record off the wire, already text-normalized:
#: ``(rtype, name, value, soa_serial)`` — ``soa_serial`` is meaningful
#: only when ``rtype == 'SOA'`` (0 otherwise).
WireRR = tuple[str, str, str, int]

#: Transfer work, in zone-file bytes, that one ``dns`` read partition
#: should carry.  A read task's fixed cost is about 0.3 s of Python CPU
#: plus 0.16 s of JVM CPU, and a transfer parses 50-70 MB of zone file
#: per core-second, so a bin under ~16 MiB costs more to schedule than
#: to transfer (4-vCPU host, per-op CPU split by process).
BIN_BYTES = 16 << 20


class ZoneTransport(ABC):
    """What the ``dns`` source and the ``dns_update`` sink need from a
    DNS server."""

    @abstractmethod
    def zones(self) -> list[str]:
        """Zones this endpoint serves (file store: directory listing;
        wire: not discoverable — raises ``OptionError``, so a read
        must name its ``zones``)."""

    @abstractmethod
    def serial(self, zone: str) -> int:
        """Cheap SOA-serial poll (streaming end-of-data offsets)."""

    @abstractmethod
    def transfer(
        self, zone: str, from_serial: int, to_serial: int | None, axfr: bool
    ) -> TransferResult:
        """Run one zone transfer (see module contract)."""

    @abstractmethod
    def check_connect(self) -> None:
        """Raise ``OSError`` for unreachable-server conditions that can
        be detected before/without a transfer (may be a no-op)."""

    @abstractmethod
    def update(self, zone: str, changes: list[UpdateRR]) -> None:
        """Apply one update message of ``(action, fqdn, ip, ttl)``
        changes, in order (see module contract)."""

    def serials(self) -> dict[str, int]:
        """``{zone: serial}`` of every zone :meth:`zones` lists."""
        return {z: self.serial(z) for z in self.zones()}

    def size_hint(self, zone: str) -> int:
        """Bytes of transfer work for ``zone``, for sizing and packing
        read partitions.  Unknown by default: a zone fills a bin
        (:data:`BIN_BYTES`), so every zone weighs the same."""
        return BIN_BYTES


# ZoneStore lives below this module (it is imported here), so it joins
# the contract by registration rather than by subclassing.
ZoneTransport.register(ZoneStore)


def parse_xfr_stream(
    rrs: Sequence[WireRR], bound: int | None = None
) -> TransferResult:
    """Classify and fold a zone-transfer answer stream.

    Input is the flat record sequence of an XFR answer.  Shapes
    (RFC 5936 §2.2 / RFC 1995 §4, detected exactly like dnsjava's
    ``ZoneTransferIn`` handler that ``Xfr.java:40-42`` drives):

    - ``[SOA(final)]`` — up-to-date; empty IXFR result.
    - ``[SOA(final), <non-SOA>..., SOA(final)]`` — AXFR: every A record
      becomes an ``AXFR`` row.
    - ``[SOA(final), SOA(old₁), deletes..., SOA(new₁), adds..., ...,
      SOA(final)]`` — IXFR: alternating delete/add runs, each delimited
      by a SOA whose serial names the version the run moves from/to.

    ``bound`` truncates IXFR replay at a planned end offset: delta runs
    moving beyond ``bound`` are dropped and the reported serial is
    capped, keeping streaming batches pinned to their offsets.  An
    AXFR-shaped answer cannot be truncated (a live server has no
    serial-bounded snapshot) — that case raises ``OSError`` so the
    caller can retry or surface it, rather than silently leaking rows
    past the batch's end offset.
    """
    if not rrs:
        raise OSError("empty transfer answer (connection dropped?)")
    first = rrs[0]
    if first[0] != "SOA":
        raise OSError(f"malformed transfer: leading {first[0]}, want SOA")
    final_serial = int(first[3])
    if len(rrs) == 1:
        return TransferResult("IXFR", final_serial, [])

    if rrs[1][0] != "SOA":
        # AXFR-shaped answer (dnsjava: second record not SOA ⇒ AXFR)
        if bound is not None and bound < final_serial:
            raise OSError(
                f"AXFR answer at serial {final_serial} cannot be bounded "
                f"at {bound}: a live server has no historical snapshot"
            )
        if rrs[-1][0] != "SOA" or int(rrs[-1][3]) != final_serial:
            # RFC 5936 §2.2: the stream ends with the SOA repeated — a
            # cut-off TCP stream otherwise passes as a smaller zone.
            raise OSError(
                "malformed AXFR: missing trailing SOA terminator "
                "(truncated answer stream?)"
            )
        rows = [
            (AXFR, name, value)
            for rtype, name, value, _ in rrs[1:]
            if rtype == "A"  # P1 protocol filter (Xfr.java:76-81)
        ]
        return TransferResult(AXFR, final_serial, rows)

    # IXFR: segment rrs[1:] into version transitions, each
    # ``SOA(old) deletes... SOA(new) adds...``, closed by a trailing
    # SOA(final) terminator (RFC 1995 §4).
    seq = list(rrs[1:])
    transitions: list[tuple[int, list[WireRR], list[WireRR]]] = []
    terminated = False
    i = 0
    while i < len(seq):
        if seq[i][0] != "SOA":
            raise OSError(
                f"malformed IXFR: expected SOA run delimiter, got {seq[i][0]}"
            )
        if i == len(seq) - 1:
            # trailing end-of-message SOA — must actually be SOA(final)
            # (RFC 1995 §4); a stream cut at a transition's SOA(old)
            # would otherwise pass as complete.
            if int(seq[i][3]) != final_serial:
                raise OSError(
                    "malformed IXFR: stream ends at SOA "
                    f"{int(seq[i][3])}, want terminator {final_serial}"
                )
            terminated = True
            break
        i += 1  # past SOA(old)
        deletes: list[WireRR] = []
        while i < len(seq) and seq[i][0] != "SOA":
            deletes.append(seq[i])
            i += 1
        if i == len(seq):
            raise OSError("malformed IXFR: delete run missing closing SOA")
        new_serial = int(seq[i][3])
        i += 1  # past SOA(new)
        adds: list[WireRR] = []
        while i < len(seq) and seq[i][0] != "SOA":
            adds.append(seq[i])
            i += 1
        transitions.append((new_serial, deletes, adds))

    if not terminated:
        # a stream cut off right after an adds run exits the loop
        # cleanly (i == len(seq)) — without this, partial rows would
        # pass as a valid, smaller delta (ADVICE r3).
        raise OSError(
            "malformed IXFR: missing trailing SOA terminator "
            "(truncated answer stream?)"
        )

    hi = final_serial if bound is None else min(bound, final_serial)
    rows: list[tuple[str, str, str]] = []
    for new_serial, deletes, adds in transitions:
        if new_serial > hi:  # transition moves beyond the end offset
            continue
        rows.extend(
            (IXFR_DELETE, name, value)
            for rtype, name, value, _ in deletes
            if rtype == "A"  # P1 filter (Xfr.java:76-81)
        )
        rows.extend(
            (IXFR_ADD, name, value)
            for rtype, name, value, _ in adds
            if rtype == "A"
        )
    return TransferResult("IXFR", hi, rows)


class WireTransport(ZoneTransport):
    """Live-server transport with dnsjava-parity semantics
    (``Xfr.java:37-50``): ALWAYS request IXFR-from-serial and let the
    answer's shape decide (AXFR fallback included); A-filter; timeout
    and port forwarded to the client.

    ``wire`` / ``serial_wire`` are injectable for tests (this container
    has no dnspython and no DNS server); by default they drive
    ``dns.query.xfr`` / a UDP SOA query, import-gated at call time.
    """

    def __init__(
        self,
        server: str,
        port: int = 53,
        timeout: float = 10.0,
        wire: Callable[[str, int], Sequence[WireRR]] | None = None,
        serial_wire: Callable[[str], int] | None = None,
    ):
        self.server = server
        self.port = port
        self.timeout = timeout
        self._wire = wire or self._dnspython_wire
        self._serial_wire = serial_wire or self._dnspython_serial

    # -- contract ------------------------------------------------------
    def zones(self) -> list[str]:
        # a server's zone list is not discoverable over DNS: without
        # explicit zones a read would plan zero partitions / an empty
        # offset map and "succeed" with no data (ADVICE r3).
        raise OptionError(
            "transport=wire requires the 'zones' option: a live "
            "server cannot enumerate its zones"
        )

    def serial(self, zone: str) -> int:
        return int(self._serial_wire(zone))

    def transfer(
        self, zone: str, from_serial: int, to_serial: int | None, axfr: bool
    ) -> TransferResult:
        # dnsjava parity: the request is IXFR(serial) even in AXFR mode
        # (serial==0 makes any server answer with the full zone); the
        # ANSWER shape decides how records are interpreted.
        req_serial = 0 if (axfr and to_serial is None) else int(from_serial)
        rrs = self._wire(zone, req_serial)
        bound = None if to_serial is None else int(to_serial)
        res = parse_xfr_stream(rrs, bound=bound)
        if res.kind == "IXFR" and req_serial == 0:
            # serial-0 initial sync is a full snapshot by definition
            # (Xfr.java:43-46) — relabel rows AXFR for schema parity.
            # A delete appearing in such an answer is nonsensical
            # (nothing exists before serial 0): surface the protocol
            # violation instead of silently inverting delete semantics
            # into adds (ADVICE r3).
            if any(a == IXFR_DELETE for a, _, _ in res.rows):
                raise OSError(
                    "malformed transfer: IXFR delete run in a serial-0 "
                    "initial sync answer"
                )
            return TransferResult(
                AXFR, res.serial, [(AXFR, n, v) for _, n, v in res.rows]
            )
        return res

    def check_connect(self) -> None:
        pass  # connection errors surface on the transfer itself

    def update(self, zone: str, changes: list[UpdateRR]) -> None:
        # RFC 2136 messages, rcode!=0 ⇒ raise (DnsUpdate.java:46-81);
        # NOTAUTH maps to ZoneNotFoundError like the file store's.
        send_update(self.server, self.port, self.timeout, zone, changes)

    # -- dnspython wire (import-gated; not exercised in this container) -
    def _dnspython_wire(self, zone: str, serial: int) -> list[WireRR]:
        try:
            import dns.query  # noqa: PLC0415
            import dns.rdatatype  # noqa: PLC0415
        except ImportError as e:  # pragma: no cover - env without dnspython
            raise OSError(
                "WireTransport needs the 'dnspython' package (pip install "
                "dnspython) or an injected wire= callable"
            ) from e
        out: list[WireRR] = []
        # dns.query.xfr speaks TCP, honors port/timeout, and for
        # rdtype=IXFR falls back exactly like dnsjava when the server
        # answers AXFR-shaped (Xfr.java:40-42 parity).
        for message in dns.query.xfr(
            self.server,
            zone,
            rdtype=dns.rdatatype.IXFR,
            serial=serial,
            port=self.port,
            timeout=self.timeout,
            relativize=False,
        ):
            for rrset in message.answer:
                rtype = dns.rdatatype.to_text(rrset.rdtype)
                for rd in rrset:
                    soa_serial = int(getattr(rd, "serial", 0))
                    value = (
                        str(getattr(rd, "address", rd.to_text()))
                    )
                    out.append((rtype, str(rrset.name), value, soa_serial))
        return out

    def _dnspython_serial(self, zone: str) -> int:  # pragma: no cover
        try:
            import dns.message  # noqa: PLC0415
            import dns.query  # noqa: PLC0415
            import dns.rdatatype  # noqa: PLC0415
        except ImportError as e:
            raise OSError(
                "WireTransport needs the 'dnspython' package (pip install "
                "dnspython) or an injected serial_wire= callable"
            ) from e
        q = dns.message.make_query(zone, dns.rdatatype.SOA)
        resp = dns.query.udp(q, self.server, port=self.port, timeout=self.timeout)
        for rrset in resp.answer:
            if rrset.rdtype == dns.rdatatype.SOA:
                return int(next(iter(rrset)).serial)
        raise ZoneNotFoundError(f"no SOA answer for {zone}")


def make_transport(opts: DnsOptions) -> ZoneTransport:
    """The transport the read or write options select — the only place
    that chooses: ``transport=store`` (default) is the
    :class:`ZoneStore` at ``opts.store``; ``transport=wire`` is a
    :class:`WireTransport` against the host in ``opts.store``/``server``.
    Both get ``opts.port`` and ``opts.timeout``."""
    if opts.transport == "wire":
        return WireTransport(opts.store, port=opts.port, timeout=opts.timeout)
    return ZoneStore(opts.store, port=opts.port, timeout=opts.timeout)
