"""Format ``dns_update`` — batch + streaming write of update records
(SURVEY.md §2.1 S8–S10), on the Python DataSource API, through the
same transport the ``dns`` source reads with (``transport.py``: the
file-backed zone store, or RFC 2136 messages to a live server).

Per-partition pipeline (the executor body of
spark/write/DnsPartitionHandler.java:30-44 + DnsUpdate.java:46-81):

1. validate (P4 — throw on first invalid row, reference behavior);
2. normalize fqdn: lower + trailing dot (F1/F6);
3. group by zone derived from fqdn (A1/F5);
4. latest-wins dedup on (action, fqdn, ip) by (timestamp, event_id)
   (A2) — per-partition, exactly like the reference; :func:`send_updates`
   makes it global (the documented improvement, SURVEY.md §4 shuffle
   row): it runs this body through ``foreachPartition`` after one
   ``repartition(zone)``;
5. one ``transport.update`` message per zone; unknown zone ⇒ raise
   (rcode!=0, DnsUpdate.java:76-80) unless ``ignore-failures``;
   connection errors always raise.

``SaveMode``/``overwrite`` is ignored (DnsSinkRelationProvider.java:22-29).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamWriter,
    DataSourceWriter,
    WriterCommitMessage,
)
from pyspark.sql.types import Row, StructType

from spark_dns_spark.sources.options import DnsOptions, apply_defaults, conf_snapshot
from spark_dns_spark.sources.transport import make_transport
from spark_dns_spark.sources.zonestore import (
    AXFR,
    IXFR_ADD,
    IXFR_DELETE,
    ZoneNotFoundError,
)

#: ttl default quirk preserved: Duration.of(1h).toMillis() = 3_600_000
#: (dao/DnsRecordUpdate.java:17) — milliseconds where seconds were meant.
DEFAULT_TTL = 3_600_000

_VALID_ACTIONS = (AXFR, IXFR_ADD, IXFR_DELETE)


def _normalize_fqdn(fqdn: str) -> str:
    fqdn = fqdn.lower()
    return fqdn if fqdn.endswith(".") else fqdn + "."


def _zone_of(fqdn: str) -> str:
    # F5: strip first label, force trailing dot
    # (DnsPartitionHandler.java:52-62)
    rest = fqdn.split(".", 1)[1] if "." in fqdn else ""
    return _normalize_fqdn(rest) if rest else "."


def _validate(row: Row) -> None:
    # P4 (DnsPartitionHandler.java:69-77) — throw, don't filter.
    if row["ip"] is None or not str(row["ip"]).strip():
        raise ValueError(f"invalid update (empty ip): {row}")
    if row["fqdn"] is None or not str(row["fqdn"]).strip():
        raise ValueError(f"invalid update (empty fqdn): {row}")
    if row["action"] is None:
        raise ValueError(f"invalid update (null action): {row}")
    if row["action"] not in _VALID_ACTIONS:
        raise ValueError(f"invalid update (unknown action): {row}")
    if row["timestamp"] is None:
        raise ValueError(f"invalid update (null timestamp): {row}")
    ttl = row["ttl"] if "ttl" in row.__fields__ else DEFAULT_TTL
    if ttl is not None and ttl <= 0:
        raise ValueError(f"invalid update (non-positive ttl): {row}")


@dataclass
class DnsWriteCommit(WriterCommitMessage):
    zones: list[str]
    n_changes: int


class DnsUpdateWriter(DataSourceWriter):
    def __init__(self, options: dict):
        self.opts = DnsOptions.parse(options)

    def write(self, iterator: Iterator[Row]) -> DnsWriteCommit:
        # Buffer-per-partition mirrors the reference's per-partition
        # grouping (whole transfer buffered, DnsZoneTransferHandler.java:25-26);
        # under send_updates a task buffers whole zones.
        def _eid(row: Row) -> int:
            # optional feed sequence number: breaks equal-timestamp ties
            # deterministically (the documented latest-wins contract
            # orders by (timestamp, event_id); without it, apply order
            # under a ts collision would fall back to action-string
            # order, letting a stale delete shadow a newer add)
            v = row["event_id"] if "event_id" in row.__fields__ else None
            return int(v) if v is not None else 0

        per_key: dict[tuple[str, str, str], tuple] = {}
        for row in iterator:
            _validate(row)
            fqdn = _normalize_fqdn(row["fqdn"])
            key = (row["action"], fqdn, row["ip"])
            prev = per_key.get(key)
            # A2: latest (timestamp, event_id) wins within the partition
            # (DnsUpdate.java:46-54, tie-break pinned down)
            cand = (row["timestamp"], _eid(row))
            if prev is None or cand > prev[0]:
                per_key[key] = (cand, row)

        def _ttl(row: Row) -> int:
            v = row["ttl"] if "ttl" in row.__fields__ else None
            return int(v) if v is not None else DEFAULT_TTL

        by_zone: dict[str, list] = {}
        for (action, fqdn, ip), ((ts, eid), row) in per_key.items():
            by_zone.setdefault(_zone_of(fqdn), []).append(
                (ts, eid, (action, fqdn, ip, _ttl(row)))
            )

        transport = make_transport(self.opts)
        # same TCP-client failure model as the read path (bad port ⇒
        # refused); not suppressable here — the reference sink throws
        # on any send failure (DnsUpdate.java:76-80)
        transport.check_connect()
        applied = []
        n = 0
        for zone in sorted(by_zone):
            # Apply surviving changes in (TIMESTAMP, event_id) order: an
            # action-sorted apply would let a stale IXFR_DELETE erase a
            # newer add for the same (fqdn, ip), violating the documented
            # most-recent-wins contract (README.md:119-121; the reference
            # is order-arbitrary here, we pin it to the feed order).
            ordered = [change for _, _, change in sorted(by_zone[zone])]
            try:
                transport.update(zone, ordered)
            except ZoneNotFoundError:
                if self.opts.ignore_failures:
                    continue
                raise
            applied.append(zone)
            n += len(by_zone[zone])
        return DnsWriteCommit(zones=applied, n_changes=n)

    def commit(self, messages):
        pass  # store updates are applied eagerly, like live DDNS

    def abort(self, messages):
        pass  # DNS updates are not transactional in the reference either


class DnsUpdateStreamWriter(DnsUpdateWriter, DataSourceStreamWriter):
    """S10 — the reference's streaming sink is a hand-rolled foreachBatch
    (DnsStreamingBatchHandler.java:11-30); here it is the same writer
    body invoked per micro-batch."""

    def commit(self, messages, batchId: int) -> None:
        pass

    def abort(self, messages, batchId: int) -> None:
        pass


class DnsUpdateDataSource(DataSource):
    """S8 — format ``dns_update`` (DnsSinkRelationProvider.java:22-29)."""

    @classmethod
    def name(cls) -> str:
        return "dns_update"

    def schema(self) -> StructType:
        from spark_dns_spark.sources.dns_source import WRITE_SCHEMA

        return WRITE_SCHEMA

    #: spark.dns.* conf snapshot baked in by register_all (options.py)
    _conf_defaults: dict = {}

    def _resolved_options(self) -> dict:
        return apply_defaults(self.options, self._conf_defaults)

    def writer(self, schema: StructType, overwrite: bool) -> DnsUpdateWriter:
        # SaveMode ignored (S8)
        return DnsUpdateWriter(self._resolved_options())

    def streamWriter(
        self, schema: StructType, overwrite: bool
    ) -> DnsUpdateStreamWriter:
        return DnsUpdateStreamWriter(self._resolved_options())


def send_updates(df: DataFrame, store: str, **options) -> None:
    """Send ``df``'s update rows to the zones of ``store``, deduplicated
    latest-wins across the whole input (the global dedup fix,
    SURVEY.md §4).

    One :class:`DnsUpdateWriter` is built on the driver from the
    session's ``spark.dns.*`` conf as read at call time (not the
    snapshot ``register_all`` gave the ``dns_update`` format), with
    ``store`` and ``options`` (``_`` spelled ``-``) winning.  Its
    ``write`` runs in Spark's tasks through ``foreachPartition``, as
    the reference's sink does, so a batch makes no DataSource planner
    calls.

    The writer dedups per task, so every ``(action, fqdn, ip)`` key must
    reach one task: the rows are tagged with the zone of their
    lower-cased fqdn and shuffled once on it (``repartition(zone)``).
    The zone is a function of the key, so each key's rows share a task.
    """
    from pyspark.sql import functions as F

    from spark_dns_spark.functions.dnsfn import zone_from_fqdn

    opts = {"store": store}
    opts.update({k.replace("_", "-"): str(v) for k, v in options.items()})
    # parses (and rejects unknown keys) before any Spark job runs
    writer = DnsUpdateWriter(apply_defaults(opts, conf_snapshot(df.sparkSession)))
    zone = zone_from_fqdn(F.lower("fqdn"))
    df = df.withColumn("zone", zone).repartition("zone").drop("zone")
    df.rdd.foreachPartition(writer.write)
