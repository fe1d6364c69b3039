"""Format ``dns`` — batch + streaming read of DNS zone transfers as a
Spark table (SURVEY.md §2.1 S1–S7), on the public Python DataSource API.

Architecture vs the reference (a Java DSv1 RelationProvider +
hand-rolled RDD, spark/read/*.java): same observable semantics, Spark-4
native mechanics —

- zones packed into input partitions sized by transfer work (S3,
  adapted): the zone stays the unit of work — never split, each
  transferred serially, the protocol constraint (README.md:5-6) — but
  the bin is the unit of scheduling.  The reference's one partition per
  zone (DnsZoneRDD.java:40-53) would cost one Python worker task per
  zone, whose fixed start-up cost is far above a zone's transfer.  A
  scan plans ``min(#zones, parallelism, ceil(Σ size_hint /
  BIN_BYTES))`` bins (at least one), so a small store is read by one
  task; bins are filled largest zone first (LPT) by the transport's
  size hint (:func:`pack_transfers`);
- fixed 6-column schema in bean-encoder alphabetical order
  (``action, fqdn, ip, organization, timestamp, zone`` —
  DnsRecordToRowConverter.java:20-29); user-supplied schema is ignored
  exactly like DnsSourceRelationProvider.java:51-53;
- **zone-filter pushdown** via ``pushFilters`` (EqualTo/In on ``zone``)
  prunes partitions before any transfer runs — an improvement the
  reference's TableScan cannot express (SURVEY.md §4 row 1);
- transfer timestamp is pinned at *planning* time and shipped inside
  the partition, so task retries are deterministic (fixes the
  speculative-retry hazard of DnsZoneRDD.java:94, SURVEY.md §4);
- ``ignore-failures`` (T7): a zone's transfer error → that zone reads
  empty instead of failing the task (DnsZoneRDD.java:82-92); the other
  zones of its partition still deliver.

Streaming (S7, T1–T5) lives in :class:`DnsStreamReader`: real
end-of-data offsets ``{zone: serial}`` (the store supports a cheap
serial poll, so the reference's always-unequal wall-clock offset hack —
ZoneOffset.java:12-16 — is unnecessary; empty batches simply plan zero
partitions), plus a reference-parity progress log with
``max-kept-commits`` retention written on ``commit()``
(ProgressSerDe.java:71-130).
"""

from __future__ import annotations

import heapq
import json
import os
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import NamedTuple

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    In,
    InputPartition,
)
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from spark_dns_spark.sources.options import XFR_AXFR, DnsSourceOptions
from spark_dns_spark.sources.transport import (
    BIN_BYTES,
    ZoneTransport,
    make_transport,
)
from spark_dns_spark.sources.zonestore import (
    ZoneNotFoundError,
    write_json_atomic,
)

#: Read schema — 6 columns, alphabetical (bean-encoder order parity,
#: DnsRecordToRowConverter.java:20, SURVEY.md §1.3).
READ_SCHEMA = StructType(
    [
        StructField("action", StringType(), True),
        StructField("fqdn", StringType(), True),
        StructField("ip", StringType(), True),
        StructField("organization", StringType(), False),
        StructField("timestamp", TimestampType(), False),
        StructField("zone", StringType(), False),
    ]
)

#: Write schema — 5 columns, alphabetical (DnsSinkRelation.java:19).
WRITE_SCHEMA = StructType(
    [
        StructField("action", StringType(), True),
        StructField("fqdn", StringType(), True),
        StructField("ip", StringType(), True),
        StructField("timestamp", TimestampType(), False),
        StructField("ttl", IntegerType(), False),
    ]
)


class ZoneTransfer(NamedTuple):
    """One zone's transfer — the unit of work (S3): never split across
    partitions."""

    zone: str
    from_serial: int  # 0 ⇒ full AXFR
    to_serial: int | None  # streaming upper bound; None ⇒ latest
    axfr: bool


@dataclass
class DnsZonePartition(InputPartition):
    """S3, adapted — a bin of zones, the unit of scheduling: one task
    runs its transfers one after another.  Carries everything ``read``
    needs so executors never call back to the driver
    (DnsZonePartition.java:11-19)."""

    transfers: tuple[ZoneTransfer, ...]  # largest zone first
    batch_ts_us: int  # planning-time timestamp (deterministic retries)

    # The lead (largest) transfer of the bin, for callers that replay a
    # plan zone by zone (perfbench's traced replay).  They see only the
    # first zone of a bin that holds several.
    @property
    def zone(self) -> str:
        return self.transfers[0].zone

    @property
    def from_serial(self) -> int:
        return self.transfers[0].from_serial

    @property
    def to_serial(self) -> int | None:
        return self.transfers[0].to_serial

    @property
    def axfr(self) -> bool:
        return self.transfers[0].axfr


def pack_transfers(
    transfers: list[ZoneTransfer], sizes: dict[str, int], nbins: int
) -> list[tuple[ZoneTransfer, ...]]:
    """Pack zone transfers into ``min(len(transfers), nbins)`` bins,
    largest first into the least-loaded bin (LPT).  Ties keep the given
    order and go to the lowest bin, so a store always packs the same
    way."""
    bins: list[list[ZoneTransfer]] = [[] for _ in range(min(len(transfers), nbins))]
    loads = [(0, i) for i in range(len(bins))]  # sorted ⇒ already a heap
    for t in sorted(transfers, key=lambda t: -sizes[t.zone]):
        load, i = heapq.heappop(loads)
        bins[i].append(t)
        heapq.heappush(loads, (load + sizes[t.zone], i))
    return [tuple(b) for b in bins]


def _plan(
    transport: ZoneTransport, transfers: list[ZoneTransfer], parallelism: int
) -> list[DnsZonePartition]:
    """Pack ``transfers`` into one bin per :data:`BIN_BYTES` of transfer
    work (at least one), but no more bins than ``parallelism`` or than
    zones; every partition carries one planning-time timestamp."""
    ts = _now_us()
    sizes = {t.zone: transport.size_hint(t.zone) for t in transfers}
    nbins = min(parallelism, max(1, -(-sum(sizes.values()) // BIN_BYTES)))
    return [
        DnsZonePartition(transfers=b, batch_ts_us=ts)
        for b in pack_transfers(transfers, sizes, nbins)
    ]


def _transfer_rows(opts: DnsSourceOptions, part: DnsZonePartition):
    """S4/S5/S6 — run a bin's zone transfers serially and emit
    schema-ordered tuples.

    The executor-side body of DnsZoneRDD.compute (DnsZoneRDD.java:65-97)
    once per zone: transfer, suppress-or-throw, stamp constant columns.
    """
    ts = datetime.fromtimestamp(part.batch_ts_us / 1e6, tz=timezone.utc).replace(
        tzinfo=None
    )
    transport = make_transport(opts)
    try:
        # port/timeout behave like the reference's TCP client: wrong
        # port refuses, simulated RTT beyond `timeout` times out (in
        # transfer) — both suppressable via ignore-failures
        # (DnsZoneRDD.java:82-92).
        transport.check_connect()
    except OSError:
        if opts.ignore_failures:
            return  # no zone of the bin is reachable
        raise
    for t in part.transfers:
        try:
            if t.zone in opts.fail_zones:  # fault injection (tests, T7)
                raise OSError(f"simulated transfer failure for {t.zone}")
            # transfer() serves from_serial==0 as a snapshot BOUNDED at
            # to_serial, so a streaming batch planned at [0, end] stays
            # pinned to its offsets even if the store advances before
            # the task runs (or the task retries) — no duplicate
            # re-delivery at the next batch.
            res = transport.transfer(t.zone, t.from_serial, t.to_serial, t.axfr)
        except (OSError, ZoneNotFoundError):
            if opts.ignore_failures:
                continue  # log+empty zone (DnsZoneRDD.java:86-91)
            raise
        for action, fqdn, ip in res.rows:
            # column order = READ_SCHEMA order
            yield (action, fqdn.lower(), ip, opts.organization, ts, t.zone)


def _now_us() -> int:
    return int(datetime.now(tz=timezone.utc).timestamp() * 1e6)


def _parallelism(n: int | None) -> int:
    # The most read partitions a scan plans, however much work it has.
    # Unregistered readers (no session to ask) fall back to this
    # host's cores — the parallelism of a local[*] session.
    return n or os.cpu_count() or 1


class DnsBatchReader(DataSourceReader):
    """S2 — batch scan; full-scan semantics plus zone pushdown."""

    def __init__(self, options: dict, parallelism: int | None = None):
        self.opts = DnsSourceOptions.parse(options)
        self.parallelism = _parallelism(parallelism)
        self._zone_filter: set[str] | None = None

    def pushFilters(self, filters: list[Filter]):
        for f in filters:
            if isinstance(f, EqualTo) and f.attribute == ("zone",):
                values = {f.value}
            elif isinstance(f, In) and f.attribute == ("zone",):
                values = set(f.values)
            else:
                yield f  # not ours — Spark keeps it above the scan
                continue
            # Consumed filters are ANDed by contract, so successive
            # zone predicates intersect (keeping only the last would
            # silently drop the others — Spark does not re-apply what
            # pushFilters consumed).
            self._zone_filter = (
                values
                if self._zone_filter is None
                else self._zone_filter & values
            )

    def partitions(self):
        transport = make_transport(self.opts)
        zones = self.opts.zones or transport.zones()
        if self._zone_filter is not None:
            zones = [z for z in zones if z in self._zone_filter]
        axfr = self.opts.xfr == XFR_AXFR
        transfers = [ZoneTransfer(z, self.opts.serial, None, axfr) for z in zones]
        return _plan(transport, transfers, self.parallelism)

    def read(self, partition: DnsZonePartition):
        yield from _transfer_rows(self.opts, partition)


class ProgressLog:
    """T3/O2/O3 — the reference's own progress files beside Spark's
    checkpoint (ProgressSerDe.java:18-21): one JSON file per committed
    batch, newest ``max-kept-commits`` retained, each written atomically
    (a crash mid-commit leaves the previous batch as the newest)."""

    def __init__(self, path: str, max_kept: int):
        self.path = path
        self.max_kept = max_kept

    def _ids(self) -> list[int]:
        if not os.path.isdir(self.path):
            return []
        return sorted(int(f) for f in os.listdir(self.path) if f.isdigit())

    def latest(self) -> dict[str, int] | None:
        ids = self._ids()
        if not ids:
            return None
        with open(os.path.join(self.path, str(ids[-1]))) as f:
            return {z: int(s) for z, s in json.load(f).items()}

    def commit(self, serials: dict[str, int]) -> int:
        ids = self._ids()
        batch_id = (ids[-1] + 1) if ids else 0  # O3: max+1
        write_json_atomic(os.path.join(self.path, str(batch_id)), serials)
        for old in ids[: max(0, len(ids) + 1 - self.max_kept)]:  # O2 retention
            os.unlink(os.path.join(self.path, str(old)))
        return batch_id


class DnsStreamReader(DataSourceStreamReader):
    """S7/T1–T5 — micro-batch source over the zone store."""

    def __init__(self, options: dict, parallelism: int | None = None):
        self.opts = DnsSourceOptions.parse(options)
        self.parallelism = _parallelism(parallelism)
        self.progress = ProgressLog(
            options.get("progress-dir")
            or os.path.join(self.opts.store, ".progress"),
            self.opts.max_kept_commits,
        )
        # admission-control clock: the last offsets handed to the
        # engine (lazily seeded from initialOffset so restart recovery
        # and the `serial` option apply identically)
        self._clock: dict[str, int] | None = None

    # -- admission clock persistence ----------------------------------
    # Spark never tells latestOffset() where the last batch ended (the
    # Python API passes no start offset), and commit() for a run's
    # FINAL batch only fires when a NEXT batch starts — so a capped
    # source restarted via checkpoints would re-admit from a stale
    # position and plan no new batch, forever.  The clock therefore
    # persists itself beside the progress log ("admission.json"; the
    # progress id listing skips non-digit names).  It is an upper-bound
    # HINT, not a commitment: after a crash between admit and process,
    # the next run admits (old admitted)+cap — and because the clock is
    # persisted in latestOffset() BEFORE the batch is processed, a
    # crash-restart LOOP compounds: each restart re-admits +cap, so the
    # first batch that finally succeeds can be up to cap x restarts
    # large.  Same best-effort class as kafka's maxOffsetsPerTrigger
    # (which also re-admits on restart); moving the persist into
    # commit() would instead re-plan the identical batch forever when
    # commit never fires, which is worse.

    def _admission_path(self) -> str:
        return os.path.join(self.progress.path, "admission.json")

    def _seed_clock(self) -> dict[str, int]:
        clock = {z: int(s) for z, s in self.initialOffset().items()}
        try:
            with open(self._admission_path()) as f:
                for z, s in json.load(f).items():
                    clock[z] = max(clock.get(z, 0), int(s))
        except (OSError, ValueError):
            pass  # first run / no admission state yet
        return clock

    def _save_clock(self) -> None:
        write_json_atomic(self._admission_path(), self._clock)

    def _zones(self) -> list[str]:
        return self.opts.zones or make_transport(self.opts).zones()

    def _polled_serials(self) -> dict[str, int]:
        # Without a `zones` option one listing serves both the zone
        # names and their serials, each zone file parsed once: Spark
        # re-polls an idle stream every few milliseconds.
        transport = make_transport(self.opts)
        if not self.opts.zones:
            return transport.serials()
        out = {}
        for z in self.opts.zones:
            try:
                out[z] = int(transport.serial(z))
            except ZoneNotFoundError:
                if not self.opts.ignore_failures:
                    raise
        return out

    def initialOffset(self) -> dict:
        # T4 restart recovery: newest progress file wins over the
        # `serial` option (DnsSourceRelationProvider.java:57-64).
        restored = self.progress.latest()
        if restored is not None:
            return {z: restored.get(z, 0) for z in self._zones()}
        return {z: self.opts.serial for z in self._zones()}

    def latestOffset(self) -> dict:
        # Real end-of-data offsets (any transport serves a serial poll:
        # file store reads the zone file, wire sends a SOA query).
        # With max-changes-per-batch set (kafka maxOffsetsPerTrigger
        # analog), the offset handed to the engine advances at most
        # `cap` serials per zone past the previous batch's end, so a
        # huge IXFR backlog drains across micro-batches instead of
        # landing in one giant batch; the transfer itself is
        # serial-bounded by to_serial, and progress/commit semantics
        # are unchanged (exactly-once across the split batches).
        cap = self.opts.max_changes_per_batch
        if cap and self._clock is None:
            self._clock = self._seed_clock()
        out = self._polled_serials()
        if cap:
            out = {
                z: min(s, int(self._clock.get(z, 0)) + cap)
                for z, s in out.items()
            }
            self._clock = {**self._clock, **out}
            self._save_clock()
        return out

    def partitions(self, start: dict, end: dict):
        transfers = []
        for zone, hi in end.items():
            lo = int(start.get(zone, 0))  # zone added mid-stream ⇒ from 0
            if int(hi) > lo:
                transfers.append(ZoneTransfer(zone, lo, int(hi), False))
        # zones present in start but dropped from end are skipped —
        # warn-and-skip parity with DnsStreamingSource.java:86-89
        return _plan(make_transport(self.opts), transfers, self.parallelism)

    def read(self, partition: DnsZonePartition):
        yield from _transfer_rows(self.opts, partition)

    def commit(self, end: dict) -> None:
        self.progress.commit({z: int(s) for z, s in end.items()})

    def stop(self) -> None:
        pass


class DnsDataSource(DataSource):
    """S1 — format ``dns`` (DnsSourceRelationProvider.java:32-34)."""

    @classmethod
    def name(cls) -> str:
        return "dns"

    def schema(self) -> StructType:
        # fixed — user schema ignored (DnsSourceRelationProvider.java:51-53)
        return READ_SCHEMA

    @staticmethod
    def _check_schema(schema: StructType) -> None:
        # The reference *silently ignores* user schemas
        # (DnsSourceRelation.java:28-30); the Python API always honors
        # one, so silent-ignore is impossible — fail loudly instead of
        # emitting rows that don't line up.
        if [f.name for f in schema.fields] != [f.name for f in READ_SCHEMA.fields]:
            raise ValueError(
                "the dns source has a fixed schema "
                "(action, fqdn, ip, organization, timestamp, zone); "
                "user-supplied schemas are not supported"
            )

    #: spark.dns.* conf snapshot baked in by register_all (options.py):
    #: persistent catalog tables reach reader() with EMPTY options, in
    #: a worker process with no session — the snapshot rides on the
    #: cloudpickled class instead.
    _conf_defaults: dict = {}
    #: the session's ``defaultParallelism``, baked in the same way: a
    #: cap on the read partitions a scan plans, which are sized by
    #: transfer work (None ⇒ this host's cores).
    _default_parallelism: int | None = None

    def _resolved_options(self) -> dict:
        from spark_dns_spark.sources.options import apply_defaults  # noqa: PLC0415

        return apply_defaults(self.options, self._conf_defaults)

    def reader(self, schema: StructType) -> DnsBatchReader:
        self._check_schema(schema)
        return DnsBatchReader(self._resolved_options(), self._default_parallelism)

    def streamReader(self, schema: StructType) -> DnsStreamReader:
        self._check_schema(schema)
        return DnsStreamReader(self._resolved_options(), self._default_parallelism)
