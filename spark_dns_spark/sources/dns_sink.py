"""Format ``dns_update`` — batch + streaming write of update records to
the zone store (SURVEY.md §2.1 S8–S10), on the Python DataSource API.

Per-partition pipeline (the executor body of
spark/write/DnsPartitionHandler.java:30-44 + DnsUpdate.java:46-81):

1. validate (P4 — throw on first invalid row, reference behavior);
2. normalize fqdn: lower + trailing dot (F1/F6);
3. group by zone derived from fqdn (A1/F5);
4. latest-wins dedup on (action, fqdn, ip) by timestamp (A2) —
   per-partition here, exactly like the reference; *global* dedup is
   the caller's job via :func:`send_updates` (one ``repartition(zone)``
   + window — the documented improvement, SURVEY.md §4 shuffle row);
5. one store update message per zone; unknown zone ⇒ raise (rcode!=0,
   DnsUpdate.java:76-80) unless ``ignore-failures``.

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

from spark_dns_spark.sources.options import DnsOptions, _get
from spark_dns_spark.sources.zonestore import (
    AXFR,
    IXFR_ADD,
    IXFR_DELETE,
    ZoneNotFoundError,
    ZoneStore,
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
        self.ignore_failures = (
            str(_get(options, "ignore-failures", "false")).lower() == "true"
        )
        # transport=wire: per-zone RFC 2136 UPDATE messages TCP-sent to
        # a live server at store/server:port (the reference's only
        # write path, DnsUpdate.java:46-81); transport=store (default):
        # deterministic file-backed ZoneStore.
        self.transport = str(_get(options, "transport", "store")).lower()
        if self.transport not in ("store", "wire"):
            from spark_dns_spark.sources.options import OptionError  # noqa: PLC0415

            raise OptionError(f"invalid transport: {self.transport}")

    def write(self, iterator: Iterator[Row]) -> DnsWriteCommit:
        # Buffer-per-partition mirrors the reference's per-partition
        # grouping (whole transfer buffered, DnsZoneTransferHandler.java:25-26);
        # callers bound partition size via repartition upstream.
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
                (ts, eid, action, fqdn, ip, _ttl(row))
            )

        store = None
        if self.transport == "store":
            store = ZoneStore(self.opts.store)
            # same TCP-client failure model as the read path (bad port ⇒
            # refused); not suppressable here — the reference sink throws
            # on any send failure (DnsUpdate.java:76-80)
            store.check_connect(self.opts.port)
        applied = []
        n = 0
        for zone in sorted(by_zone):
            # Apply surviving changes in (TIMESTAMP, event_id) order: an
            # action-sorted apply would let a stale IXFR_DELETE erase a
            # newer add for the same (fqdn, ip), violating the documented
            # most-recent-wins contract (README.md:119-121; the reference
            # is order-arbitrary here, we pin it to the feed order).
            ordered = sorted(by_zone[zone])
            try:
                if store is not None:
                    store.apply_update(
                        zone, [(a, f, i) for (_, _, a, f, i, _t) in ordered]
                    )
                else:
                    # one RFC 2136 message per zone, rcode!=0 ⇒ raise
                    # (DnsUpdate.java:46-81); connection errors are
                    # OSError, never suppressed — only unknown-zone
                    # (NOTAUTH) falls under ignore-failures, exactly
                    # like the file-store path.
                    from spark_dns_spark.sources.update_wire import (  # noqa: PLC0415
                        send_update,
                    )

                    send_update(
                        self.opts.store,
                        self.opts.port,
                        self.opts.timeout,
                        zone,
                        [(a, f, i, t) for (_, _, a, f, i, t) in ordered],
                    )
            except ZoneNotFoundError:
                if self.ignore_failures:
                    continue
                raise
            applied.append(zone)
            n += len(by_zone[zone])
        return DnsWriteCommit(zones=applied, n_changes=n)

    def commit(self, messages):
        pass  # store updates are applied eagerly, like live DDNS

    def abort(self, messages):
        pass  # DNS updates are not transactional in the reference either


class DnsUpdateStreamWriter(DataSourceStreamWriter):
    """S10 — the reference's streaming sink is a hand-rolled foreachBatch
    (DnsStreamingBatchHandler.java:11-30); here it is the same writer
    body invoked per micro-batch."""

    def __init__(self, options: dict):
        self._delegate = DnsUpdateWriter(options)

    def write(self, iterator: Iterator[Row]) -> DnsWriteCommit:
        return self._delegate.write(iterator)

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
        from spark_dns_spark.sources.options import apply_defaults  # noqa: PLC0415

        return apply_defaults(self.options, self._conf_defaults)

    def writer(self, schema: StructType, overwrite: bool) -> DnsUpdateWriter:
        # SaveMode ignored (S8)
        return DnsUpdateWriter(self._resolved_options())

    def streamWriter(
        self, schema: StructType, overwrite: bool
    ) -> DnsUpdateStreamWriter:
        return DnsUpdateStreamWriter(self._resolved_options())


def send_updates(df: DataFrame, store: str, global_dedup: bool = True, **options):
    """Driver-side write helper: the reference's full sink pipeline with
    the *global* dedup fix (SURVEY.md §4): normalize → zone-tag →
    window dedup across ALL partitions → repartition by zone (one
    update message per zone per partition) → ``dns_update`` write.
    """
    from pyspark.sql import functions as F

    from spark_dns_spark.operators.changelog import dedup_updates_for_send

    out = df
    if global_dedup:
        # event_id (when the feed carries one) pins equal-timestamp ties
        # globally, matching the writer's per-partition apply order.
        tiebreak = ["event_id"] if "event_id" in df.columns else []
        out = dedup_updates_for_send(df, ts_col="timestamp", tiebreak=tiebreak)
        out = out.repartition(F.col("zone")).drop("zone")
    writer = out.write.format("dns_update").option("store", store)
    for k, v in options.items():
        writer = writer.option(k.replace("_", "-"), str(v))
    writer.mode("append").save()
