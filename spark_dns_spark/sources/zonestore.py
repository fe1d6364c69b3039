"""File-backed DNS zone store — the deterministic transport behind the
``dns`` / ``dns_update`` formats.

The reference talks TCP to a live DNS server (xfr/Xfr.java:37-50 for
zone transfers, spark/write/DnsUpdate.java:56-81 for DDNS updates).
The harness has no server (SURVEY.md §5 "Our adaptation"), so the
transport is a directory of per-zone JSON files with the same protocol
semantics:

- **AXFR**  — full snapshot of a zone's records at its current serial.
- **IXFR(n)** — the add/delete deltas with serial > n; ``n == 0`` and
  "n older than retained history" degrade to a full AXFR, mirroring
  real IXFR fallback (and fixing the reference's quirk where a
  requested-IXFR-answered-AXFR yields zero rows — SURVEY.md §7.3).
- **UPDATE** — apply adds/deletes, bump the serial by one per batch,
  append to history.  Updating a non-existent zone raises (the
  reference's rcode!=0 path, DnsUpdate.java:76-80).

Concurrency: executors on one host (local mode) apply updates under an
``fcntl`` lock with atomic rename; reads are lock-free (atomic rename
ensures a consistent file).  On a real cluster the store would be a
real DNS server (or any shared KV); this class is deliberately the only
piece that assumes a shared filesystem.
"""

from __future__ import annotations

import fcntl
import json
import os
import re
import tempfile
from dataclasses import dataclass

AXFR = "AXFR"
IXFR_ADD = "IXFR_ADD"
IXFR_DELETE = "IXFR_DELETE"


class ZoneNotFoundError(Exception):
    """Raised on transfer/update against a zone the store doesn't serve
    (reference: ZoneTransferException / rcode!=0)."""


@dataclass
class TransferResult:
    """One zone transfer: ``kind`` is AXFR or IXFR; ``rows`` are
    (action, fqdn, ip) tuples; ``serial`` is the zone serial observed —
    the accumulator value in the reference (ZoneVersion.java:13-53)."""

    kind: str
    serial: int
    rows: list[tuple[str, str, str]]


def write_json_atomic(path: str, data) -> None:
    """Write ``data`` as JSON to ``path`` through a temp file in the same
    directory and ``os.replace``: a reader, or a restart after a crash
    mid-write, sees the old document or the new one, never a torn one.
    The temp name (``tmp*.tmp``) is never all digits, so it can't pose
    as a progress-log batch file."""
    d = os.path.dirname(path) or "."
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(data, f)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


def _safe(zone: str) -> str:
    return re.sub(r"[^A-Za-z0-9._-]", "_", zone.rstrip(".")) or "_root_"


class ZoneStore:
    def __init__(self, root: str):
        self.root = root

    def _path(self, zone: str) -> str:
        return os.path.join(self.root, f"{_safe(zone)}.zone.json")

    def _load(self, zone: str) -> dict:
        try:
            with open(self._path(zone)) as f:
                return json.load(f)
        except FileNotFoundError:
            raise ZoneNotFoundError(f"zone not served: {zone}")

    def _write_atomic(self, zone: str, data: dict) -> None:
        write_json_atomic(self._path(zone), data)

    # -- provisioning -------------------------------------------------
    def create_zone(
        self,
        zone: str,
        records: list[tuple[str, str]] | None = None,
        serial: int = 1,
        history: list[tuple[int, str, str, str]] | None = None,
    ) -> None:
        """Provision a zone: ``records`` = current (fqdn, ip) set;
        ``history`` = [(serial, action, fqdn, ip)] change log.

        A replay base is recorded so serial-bounded snapshots
        (:meth:`snapshot_at`) are exact: if forward-replaying ``history``
        from an empty set reproduces ``records``, the base is (∅, 0);
        otherwise the base is (``records``, ``serial``) and snapshots
        before ``serial`` are unservable (like a real server whose
        journal doesn't reach back that far)."""
        recs = sorted(set(map(tuple, records or [])))
        hist = [list(h) for h in (history or [])]
        replayed: set[tuple[str, str]] = set()
        for h in sorted(hist, key=lambda h: int(h[0])):
            if h[1] == IXFR_DELETE:
                replayed.discard((h[2], h[3]))
            else:
                replayed.add((h[2], h[3]))
        base_complete = sorted(replayed) == recs
        if base_complete:
            # empty base anchored just below the oldest journal entry
            # (= creation serial when there is no journal yet)
            base_records: list = []
            base_serial = min((int(h[0]) for h in hist), default=serial + 1) - 1
        else:
            base_records, base_serial = recs, serial
        self._write_atomic(
            zone,
            {
                "zone": zone,
                "serial": serial,
                "records": recs,
                "history": hist,
                "base_records": base_records,
                "base_serial": base_serial,
                # every real zone carries SOA/NS records; a transfer
                # receives them and must filter (P1, Xfr.java:76-81)
                "non_a_records": [
                    ["SOA", zone, f"ns1.{zone} hostmaster.{zone} {serial}"],
                    ["NS", zone, f"ns1.{zone}"],
                ],
            },
        )

    # -- simulated server properties ----------------------------------
    def _server_meta_path(self) -> str:
        return os.path.join(self.root, ".server.json")

    def set_server(self, port: int = 53) -> None:
        """Declare the port this store's simulated server listens on
        (default: accept any port, for stores that predate the file)."""
        write_json_atomic(self._server_meta_path(), {"port": int(port)})

    def set_transfer_delay(self, zone: str, seconds: float) -> None:
        """Fault injection: simulated transfer RTT for one zone."""
        d = self._load(zone)
        d["transfer_delay"] = float(seconds)
        self._write_atomic(zone, d)

    def check_connect(self, port: int) -> None:
        """Model the TCP-client connect failure the reference's tests
        exercise (bad port → connection refused;
        DnsSourceRelationProviderTest.java:86-147).  The slow-transfer
        timeout is part of :meth:`transfer`, like a real client's."""
        try:
            with open(self._server_meta_path()) as f:
                server_port = int(json.load(f)["port"])
        except FileNotFoundError:
            server_port = None
        if server_port is not None and int(port) != server_port:
            raise OSError(
                f"connection refused: port {port} "
                f"(server listens on {server_port})"
            )

    def zones(self) -> list[str]:
        return list(self.serials())

    def serials(self) -> dict[str, int]:
        """``{zone: serial}`` of every served zone, from one directory
        listing that parses each zone file once (an idle stream polls
        this every trigger)."""
        if not os.path.isdir(self.root):
            return {}
        out = {}
        for fn in sorted(os.listdir(self.root)):
            if fn.endswith(".zone.json"):
                with open(os.path.join(self.root, fn)) as f:
                    d = json.load(f)
                out[d["zone"]] = int(d["serial"])
        return out

    # -- read path (transfers) ---------------------------------------
    # Each public read parses the zone file once and serves from the
    # parsed document through the ``_*_doc`` helpers below.

    def serial(self, zone: str) -> int:
        """Cheap poll — the SOA query a real server answers.  This is
        what lets our streaming offsets be *end-of-data* offsets
        instead of the reference's forced-batch wall-clock offsets
        (ZoneOffset.java:12-16)."""
        return int(self._load(zone)["serial"])

    def file_size(self, zone: str) -> int:
        """Bytes of the zone's file (0 if not served): the size hint
        the ``dns`` source sizes and packs its read partitions by."""
        try:
            return os.path.getsize(self._path(zone))
        except FileNotFoundError:
            return 0

    def transfer(
        self,
        zone: str,
        from_serial: int,
        to_serial: int | None,
        axfr: bool,
        timeout: float,
    ) -> TransferResult:
        """One transfer as the simulated server answers it: AXFR when
        ``axfr`` and unbounded, else :meth:`ixfr`.  A zone whose
        simulated RTT (:meth:`set_transfer_delay`) reaches ``timeout``
        raises ``OSError`` — no real sleep."""
        d = self._load(zone)
        delay = float(d.get("transfer_delay", 0))
        if delay and delay >= timeout:
            raise OSError(
                f"transfer of {zone} timed out after {timeout}s "
                f"(simulated RTT {delay}s)"
            )
        if axfr and to_serial is None:
            return _axfr_doc(d)
        return _ixfr_doc(d, from_serial, to_serial)

    def axfr(self, zone: str) -> TransferResult:
        return _axfr_doc(self._load(zone))

    def snapshot_at(self, zone: str, at_serial: int) -> TransferResult:
        """Serial-bounded AXFR: the zone's state as of ``at_serial``,
        reconstructed as base + forward replay of history ≤ at_serial.

        This is what pins a streaming batch to its planned [start, end]
        offsets even if the store advances between ``latestOffset()``
        and task execution (or on task retry) — the exactly-once
        guarantee the reference approximates with accumulators
        (DnsStreamingSource.java:53-67)."""
        return _snapshot_doc(self._load(zone), at_serial)

    def ixfr(
        self, zone: str, from_serial: int, to_serial: int | None = None
    ) -> TransferResult:
        """Deltas with from_serial < serial <= to_serial.

        from_serial == 0 ⇒ full snapshot (Xfr.java:42-49); from_serial
        below the replay base ⇒ snapshot fallback (interpretation keyed
        on the *answer*, not the request — the reference keys on the
        request and silently yields zero rows, SURVEY.md §7.3).  Both
        fallbacks honor ``to_serial`` via :meth:`snapshot_at`, so a
        bounded read never leaks rows beyond its planned end offset.
        """
        return _ixfr_doc(self._load(zone), from_serial, to_serial)

    # -- write path (DDNS update) ------------------------------------
    def apply_update(self, zone: str, changes: list[tuple[str, str, str]]) -> int:
        """Apply one update message: (action, fqdn, ip) changes; adds
        (AXFR/IXFR_ADD) insert the record, IXFR_DELETE removes it.
        One serial bump per message (like one DNS UPDATE per zone,
        DnsPartitionHandler.java:30-44).  Returns the new serial.
        """
        os.makedirs(self.root, exist_ok=True)
        lock_path = os.path.join(self.root, f"{_safe(zone)}.lock")
        with open(lock_path, "w") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            d = self._load(zone)
            recs = {tuple(r) for r in d["records"]}
            serial = int(d["serial"]) + 1
            hist = d["history"]
            for action, fqdn, ip in changes:
                if action in (AXFR, IXFR_ADD):
                    recs.add((fqdn, ip))
                elif action == IXFR_DELETE:
                    recs.discard((fqdn, ip))
                else:
                    raise ValueError(f"unknown action: {action}")
                hist.append([serial, action, fqdn, ip])
            d.update(serial=serial, records=sorted(recs), history=hist)
            self._write_atomic(zone, d)
        return serial

    def resolve(self, zone: str, fqdn: str) -> list[str]:
        """Test oracle — the reference's post-write lookup
        (DnsSinkRelationProviderTest.java:182-197)."""
        d = self._load(zone)
        return sorted(ip for f, ip in d["records"] if f == fqdn)


def _axfr_doc(d: dict) -> TransferResult:
    # The wire transfer carries every RR type (SOA, NS, A, ...); only
    # A-records become rows — the reference's one protocol-level
    # filter (P1, xfr/Xfr.java:76-81).
    rrs = [("A", fqdn, ip) for fqdn, ip in d["records"]] + [
        tuple(r) for r in d.get("non_a_records", [])
    ]
    rows = [(AXFR, name, value) for rtype, name, value in rrs if rtype == "A"]
    return TransferResult(AXFR, int(d["serial"]), rows)


def _snapshot_doc(d: dict, at_serial: int) -> TransferResult:
    cur = int(d["serial"])
    if at_serial >= cur:
        return _axfr_doc(d)
    base_serial = int(d.get("base_serial", 0))
    have = {int(h[0]) for h in d["history"]}
    if at_serial < base_serial or not all(
        s in have for s in range(base_serial + 1, at_serial + 1)
    ):
        raise ZoneNotFoundError(
            f"history for {d['zone']} does not reach back to serial {at_serial}"
        )
    recs = {tuple(r) for r in d.get("base_records", [])}
    for h in sorted(d["history"], key=lambda h: int(h[0])):
        if int(h[0]) > at_serial:
            break
        if int(h[0]) <= base_serial:  # already folded into the base
            continue
        if h[1] == IXFR_DELETE:
            recs.discard((h[2], h[3]))
        else:
            recs.add((h[2], h[3]))
    rows = [(AXFR, fqdn, ip) for fqdn, ip in sorted(recs)]
    return TransferResult(AXFR, at_serial, rows)


def _ixfr_doc(d: dict, from_serial: int, to_serial: int | None) -> TransferResult:
    cur = int(d["serial"])
    hi = cur if to_serial is None else min(to_serial, cur)
    if from_serial >= hi:
        return TransferResult("IXFR", hi, [])
    have = {int(h[0]) for h in d["history"]}
    journal_complete = all(s in have for s in range(from_serial + 1, hi + 1))
    if (
        from_serial == 0
        or from_serial < int(d.get("base_serial", 0))
        or not journal_complete  # journal truncated below from_serial
    ):
        return _snapshot_doc(d, hi)
    rows = [
        (h[1], h[2], h[3])
        for h in d["history"]
        if from_serial < int(h[0]) <= hi
    ]
    return TransferResult("IXFR", hi, rows)
