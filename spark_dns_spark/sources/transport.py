"""Zone-transfer transports — the seam between the ``dns`` source's
planning/row logic and HOW bytes are fetched.

The reference's only transport is a live TCP DNS server via dnsjava
(``xfr/Xfr.java:37-50``: always requests IXFR with the given serial,
lets the handler detect whether the *answer* was AXFR- or IXFR-shaped,
filters to A records, ``Xfr.java:76-81``).  This repo's default
transport is the deterministic file-backed :class:`~spark_dns_spark.
sources.zonestore.ZoneStore` (no live server in the harness —
SURVEY.md §5); this module makes that choice explicit behind
:class:`ZoneTransport` and adds :class:`WireTransport`, a
dnspython-backed implementation of the same contract, so the engine can
read a real zone wherever ``dnspython`` and a server exist.

Both transports honor the same contract, unit-tested in
``tests/test_transport.py``:

- ``transfer(zone, 0, None, axfr=True)`` → full AXFR snapshot;
- ``transfer(zone, n, hi, axfr=False)`` → deltas with
  ``n < serial <= hi`` (n == 0 or below retained history ⇒ AXFR
  fallback, classified by the ANSWER shape, not the request —
  SURVEY.md §7.3);
- only A records ever become rows (P1);
- connection errors surface as ``OSError`` (suppressable upstream via
  ``ignore-failures``), unknown zones as :class:`ZoneNotFoundError`.

``WireTransport`` splits into a pure, fully-tested answer-stream parser
(:func:`parse_xfr_stream` — RFC 5936/1995 record-stream shapes,
dnsjava-handler detection parity) and a thin wire callable that is
import-gated on ``dnspython`` (not present in this container) and
injectable for tests.
"""

from __future__ import annotations

from abc import ABC, abstractmethod
from collections.abc import Callable, Sequence

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


class ZoneTransport(ABC):
    """What the ``dns`` source needs from any transfer mechanism."""

    @abstractmethod
    def zones(self) -> list[str]:
        """Zones this endpoint serves (file store: directory listing;
        wire: not discoverable — the ``zones`` option is required)."""

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

    def size_hint(self, zone: str) -> int:
        """Relative cost of transferring ``zone``, for packing zones
        into read partitions.  Unknown by default: every zone weighs
        the same."""
        return 1


class FileStoreTransport(ZoneTransport):
    """The deterministic default: file-backed simulated server."""

    def __init__(self, root: str, port: int = 53, timeout: float = 10.0):
        self.store = ZoneStore(root)
        self.port = port
        self.timeout = timeout

    def zones(self) -> list[str]:
        return self.store.zones()

    def serial(self, zone: str) -> int:
        return self.store.serial(zone)

    def transfer(
        self, zone: str, from_serial: int, to_serial: int | None, axfr: bool
    ) -> TransferResult:
        # the store serves from_serial==0 as a snapshot BOUNDED at
        # to_serial, so a streaming batch planned at [0, end] stays
        # pinned to its offsets even if the store advances first.
        return self.store.transfer(
            zone, from_serial, to_serial, axfr, self.timeout
        )

    def check_connect(self) -> None:
        self.store.check_connect(self.port)

    def size_hint(self, zone: str) -> int:
        return self.store.file_size(zone)


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
        return []  # a server's zone list is not discoverable over DNS

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


def make_transport(opts) -> ZoneTransport:
    """Build the transport an options object selects.

    ``transport=store`` (default) — :class:`FileStoreTransport` over
    ``opts.store``; ``transport=wire`` — :class:`WireTransport` against
    the host in ``opts.store``/``server`` on ``opts.port``.
    """
    kind = getattr(opts, "transport", "store")
    if kind == "wire":
        if not getattr(opts, "zones", None):
            # a server's zone list is not discoverable over DNS:
            # without explicit zones the source would plan zero
            # partitions / an empty offset map and "succeed" with no
            # data (ADVICE r3) — surface the constraint instead.
            from spark_dns_spark.sources.options import OptionError  # noqa: PLC0415

            raise OptionError(
                "transport=wire requires the 'zones' option: a live "
                "server cannot enumerate its zones"
            )
        return WireTransport(opts.store, port=opts.port, timeout=opts.timeout)
    return FileStoreTransport(opts.store, port=opts.port, timeout=opts.timeout)
