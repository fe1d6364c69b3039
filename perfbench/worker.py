"""One benchmark run in one process: set up, run the timed closed loop,
check every output, and (traced) replay each op's layers.

Started by ``run.py`` with the repository root as working directory and a
hermetic environment; writes its full record as JSON to ``--out``.

    python3 perfbench/worker.py --workload xfr_snapshot --seed 1 \
        --seconds 6 --trace 0 --work <dir> --out <file>
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import time
from dataclasses import dataclass
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(1, str(HERE.parent))

import gen  # noqa: E402
import tracing  # noqa: E402

#: Serials, counted back from the current one, of the store-wide IXFR
#: syncs of an xfr round: clients that lag by one and by four serials.
#: With the full-store AXFR and the deep IXFR they make most of a round,
#: so the median op is a store-wide transfer.  The CPU time of a
#: single-zone read is mostly fixed per-op cost, which follows the load
#: on a shared host from run to run more than the read work does.
RECENT_LAGS = (1, 4)
#: Size rank (0 = largest zone) of the zone of the ``zone =`` pushdown read.
PUSHDOWN_RANK = 0

#: Untimed ddns cycles before the clock starts: the first sends run
#: well above steady state while the JVM compiles the sink path.
WARM_SHAPE = (("small", 300), ("bulk", 2_000))

#: In-run repeats of input generation + provisioning (``setup_s`` counts
#: their median).
PROVISION_REPEATS = 3

#: The catalog queries one ``catalog_serve`` op serves, each once, in an
#: order the seed permutes per op.
CATALOG_QUERIES = ("changelog_snapshot", "changelog_latest_wins")
#: Ops in a ``catalog_serve`` round: it outlasts the window on 4 cores, so
#: every run measures the same ops.
CATALOG_OPS = 5
#: Untimed ops before the clock starts: the first serves take several
#: times the steady CPU while the JVM compiles their code paths.
CATALOG_WARM_OPS = 5


def _median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


@dataclass
class Op:
    """One timed op of a round and what a correct answer digests to."""

    name: str
    expected: tuple[int, int]
    # xfr reads
    xfr: str = "axfr"
    serial: int = 0
    zones: list[str] | None = None  # zones read (None = all zones)
    pushdown: bool = True  # select zones by a `zone =` filter, else option
    # ddns cycles
    batch: int = -1
    rows_in: int = 0
    # catalog serves
    queries: tuple[str, ...] = ()


def _zone_file(root: str, zone: str) -> str:
    # generated zone names are already file-name safe
    return os.path.join(root, f"{zone.rstrip('.')}.zone.json")


class Workload:
    def __init__(self, spark, seed: int, work: Path, spans: tracing.Spans):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.spans = spans
        self.root = ""
        self.check_s = 0.0

    def check(self, op: Op, rows) -> tuple[bool, dict]:
        t0 = time.perf_counter()
        got = gen.digest(self.as_checked(op, rows))
        self.check_s += time.perf_counter() - t0
        ok = got == op.expected
        return ok, {} if ok else {"expected": op.expected, "got": got}

    def as_checked(self, op: Op, rows):
        """The op's output rows as its expectation spells them."""
        return (tuple(r) for r in rows)

    def prepare(self) -> None:
        """Set-up after provisioning, before the warm ops."""

    def pre_replay(self) -> dict:
        """Traced runs: state to capture before an op, off the clock."""
        return {}

    def stop(self) -> None:
        pass

    def traced_layers(self, records: list[dict], evlog) -> dict:
        """Traced runs: the workload's own per-layer values at run end."""
        return {}


# -- xfr_snapshot ---------------------------------------------------------


class XfrSnapshot(Workload):
    """Reads only: full-store AXFR, store-wide IXFR syncs from recent and
    deep serials, snapshot fallbacks below the journal base, and a
    single-zone ``zone =`` pushdown read of one generated store."""

    def provision(self, k: int) -> None:
        from spark_dns_spark.sources import ZoneStore

        self.store = gen.gen_xfr_store(self.seed)
        self.root = str(self.work / f"store{k}")
        zs = ZoneStore(self.root)
        for z in self.store.zones:
            zs.create_zone(
                z.name,
                records=sorted(z.live()),
                serial=z.serial,
                history=z.journal(),
            )

    def _op(self, name, xfr, serial, zones=None) -> Op:
        """A read of ``zones`` (all if None): one zone by a pushed-down
        ``zone =`` filter, several by the ``zones`` option."""
        specs = self.store.by_name()
        cover = zones if zones is not None else sorted(specs)
        rows = [r for z in cover for r in gen.read_rows(specs[z], xfr, serial)]
        return Op(name, gen.digest(rows), xfr=xfr, serial=serial, zones=zones,
                  pushdown=zones is not None and len(zones) == 1)

    def round(self, r: int) -> list[Op]:
        """The same fixed op sequence every round."""
        if r == 0:
            self._round = self._ops()
        return self._round

    def _ops(self) -> list[Op]:
        S = self.store.serial
        by_rank = {z.rank: z.name for z in self.store.zones}
        trunc = [z.name for z in self.store.zones if z.truncated]
        # the store-wide IXFRs, among which the median op falls, come
        # last: the JVM's CPU per read is still falling through a round
        return [
            self._op("axfr_all", "axfr", 0),
            self._op("ixfr_below_base", "ixfr", S // 4, sorted(trunc)),
            self._op("push_axfr", "axfr", 0, [by_rank[PUSHDOWN_RANK]]),
            *(self._op(f"ixfr_recent_{lag}", "ixfr", S - lag) for lag in RECENT_LAGS),
            self._op("ixfr_deep", "ixfr", S // 6),
        ]

    def warm_ops(self) -> list[Op]:
        # the first full-store read starts every Python worker and spends
        # several times a steady read's CPU compiling the read path; the
        # JVM's share of a read still halves over the next two, so two
        # full-store reads (IXFR, AXFR) and a pushdown AXFR run untimed
        smallest = min(self.store.zones, key=lambda z: len(z.log)).name
        return [
            self._op("warm", "ixfr", self.store.serial - 1),
            self._op("warm_axfr", "axfr", 0),
            self._op("warm_push", "axfr", 0, [smallest]),
        ]

    def run(self, op: Op):
        from pyspark.sql import functions as F

        reader = (
            self.spark.read.format("dns")
            .option("store", self.root)
            .option("organization", gen.ORGANIZATION)
            .option("xfr", op.xfr)
            .option("serial", str(op.serial))
        )
        if op.zones is not None and not op.pushdown:
            reader = reader.option("zones", ",".join(op.zones))
        with self.spans.span("load"):
            df = reader.load()
        if op.pushdown:
            df = df.where(F.col("zone") == op.zones[0])
        with self.spans.span("collect"):
            return df.select("action", "fqdn", "ip", "organization", "zone").collect()

    def replay(self, op: Op, n_rows: int, pre: dict) -> dict:
        """The op's layers called in-process on its own inputs."""
        from pyspark.sql.datasource import EqualTo

        from spark_dns_spark.sources import ZoneStore
        from spark_dns_spark.sources.dns_source import DnsBatchReader
        from spark_dns_spark.sources.options import DnsSourceOptions
        from spark_dns_spark.sources.transport import make_transport

        opts = {
            "store": self.root,
            "organization": gen.ORGANIZATION,
            "xfr": op.xfr,
            "serial": str(op.serial),
        }
        if op.zones is not None and not op.pushdown:
            opts["zones"] = ",".join(op.zones)
        reader = DnsBatchReader(opts)
        if op.pushdown:
            list(reader.pushFilters([EqualTo(("zone",), op.zones[0])]))
        out = {}
        t = time.perf_counter()
        parts = reader.partitions()
        out["sources.dns_source.partitions_s"] = time.perf_counter() - t
        reads = []
        for p in parts:
            t = time.perf_counter()
            for _ in reader.read(p):
                pass
            reads.append(time.perf_counter() - t)
        out["sources.dns_source.read_s"] = sum(reads)
        out["sources.dns_source.read_max_partition_s"] = max(reads, default=0.0)
        transport = make_transport(DnsSourceOptions.parse(opts))
        t = time.perf_counter()
        for p in parts:
            transport.transfer(p.zone, p.from_serial, p.to_serial, p.axfr)
        out["sources.transport.transfer_s"] = time.perf_counter() - t
        zones = [p.zone for p in parts]
        from_serial = op.serial if op.xfr == "ixfr" else self.store.serial - 2
        store = ZoneStore(self.root)
        out.update(_store_replay(store, {z: from_serial for z in zones}))
        # the serial poll a streaming reader of this store runs per trigger
        t = time.perf_counter()
        for z in self.store.zones:
            store.serial(z.name)
        out["sources.zonestore.serial_s"] = time.perf_counter() - t
        size = sum(os.path.getsize(_zone_file(self.root, z)) for z in zones)
        out["sources.zonestore.bytes_per_row"] = size / max(n_rows, 1)
        return out

    def live_records(self) -> int:
        return sum(len(z.live()) for z in self.store.zones)

    def traced_layers(self, records, evlog) -> dict:
        # .load() runs inside each read
        return {"sources.dns_source.load_s": _med(records, "load_s"),
                **_zone_store_layers(self)}


def _store_replay(store, from_serials: dict[str, int]) -> dict:
    """ZoneStore read-path calls, each summed over the zones given with
    their IXFR start serials, plus one zone listing."""
    from spark_dns_spark.sources.zonestore import ZoneNotFoundError

    out = {}
    t = time.perf_counter()
    for z in from_serials:
        store.axfr(z)
    out["sources.zonestore.axfr_s"] = time.perf_counter() - t
    t = time.perf_counter()
    for z, n in from_serials.items():
        store.ixfr(z, n)
    out["sources.zonestore.ixfr_s"] = time.perf_counter() - t
    t = time.perf_counter()
    for z, n in from_serials.items():
        try:
            store.snapshot_at(z, n)
        except ZoneNotFoundError:
            pass  # journal does not reach back: the IXFR fell back to AXFR
    out["sources.zonestore.snapshot_at_s"] = time.perf_counter() - t
    t = time.perf_counter()
    store.zones()
    out["sources.zonestore.zones_s"] = time.perf_counter() - t
    return out


# -- ddns_cdc -------------------------------------------------------------


class DdnsCdc(Workload):
    """Closed loop of ``send_updates(batch)`` then ``processAllAvailable()``
    on one long-running ``dns`` stream; each cycle checks that the stream
    delivered exactly the batch's latest-wins effect."""

    def provision(self, k: int) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from spark_dns_spark.sources import ZoneStore

        feed = gen.DdnsFeed(self.seed)
        self.feed = feed
        self.root = str(self.work / f"store{k}")
        zs = ZoneStore(self.root)
        for z in feed.zones:
            zs.create_zone(z.name, records=sorted(z.live()), serial=1, history=z.log)
        shape = list(WARM_SHAPE) + list(gen.ROUND_SHAPE)
        self.batches = [feed.batch(kind, n) for kind, n in shape]
        self.batch_dir = self.work / f"batches{k}"
        self.batch_dir.mkdir(parents=True, exist_ok=True)
        schema = pa.schema([
            ("action", pa.string()),
            ("fqdn", pa.string()),
            ("ip", pa.string()),
            ("timestamp", pa.timestamp("us", tz="UTC")),
            ("ttl", pa.int32()),
        ])
        for i, b in enumerate(self.batches):
            cols = list(zip(*b.rows))
            table = pa.Table.from_arrays(
                [pa.array(c, type=schema.field(j).type) for j, c in enumerate(cols)],
                schema=schema,
            )
            pq.write_table(table, self.batch_dir / f"b{i:03d}.parquet")

    def prepare(self) -> None:
        """Start the one long-running stream every cycle reads back."""
        self.delivered: list[list] = []

        def sink(df, _batch_id):
            self.delivered.append(
                df.select("action", "fqdn", "ip", "organization", "zone").collect()
            )

        self.query = (
            self.spark.readStream.format("dns")
            .option("store", self.root)
            .option("organization", gen.ORGANIZATION)
            .option("serial", "1")
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(self.work / "checkpoint"))
            .start()
        )
        self.query.processAllAvailable()
        self._progress_seen = -1

    def stop(self) -> None:
        q = getattr(self, "query", None)
        if q is not None:
            q.stop()

    def _cycle_op(self, i: int, name: str) -> Op:
        b = self.batches[i]
        return Op(name, gen.digest(gen.expected_delta(b.rows)), batch=i,
                  rows_in=len(b.rows))

    def round(self, r: int) -> list[Op] | None:
        """Round ``r`` of the staged batches (the first ones warm up);
        None once they are used up."""
        n = len(gen.ROUND_SHAPE)
        first = len(WARM_SHAPE) + r * n
        if first + n > len(self.batches):
            return None
        return [
            self._cycle_op(i, f"cycle_{self.batches[i].kind}_{i}")
            for i in range(first, first + n)
        ]

    def warm_ops(self) -> list[Op]:
        return [self._cycle_op(i, f"warm_{i}") for i in range(len(WARM_SHAPE))]

    def run(self, op: Op):
        from spark_dns_spark.sources.dns_sink import send_updates

        df = self.spark.read.parquet(str(self.batch_dir / f"b{op.batch:03d}.parquet"))
        n0 = len(self.delivered)
        with self.spans.span("send"):
            send_updates(df, self.root)
        with self.spans.span("catchup"):
            self.query.processAllAvailable()
        if self.query.exception() is not None:
            raise RuntimeError(str(self.query.exception()))
        return [r for b in self.delivered[n0:] for r in b]

    def serials(self) -> dict[str, int]:
        from spark_dns_spark.sources import ZoneStore

        store = ZoneStore(self.root)
        return {z.name: store.serial(z.name) for z in self.feed.zones}

    def pre_replay(self) -> dict:
        t = time.perf_counter()
        before = self.serials()
        return {"before": before, "serial_s": time.perf_counter() - t}

    def replay(self, op: Op, n_rows: int, pre: dict) -> dict:
        from spark_dns_spark.operators.changelog import dedup_updates_for_send
        from spark_dns_spark.sources import ZoneStore
        from spark_dns_spark.sources.dns_source import DnsStreamReader
        from spark_dns_spark.sources.options import DnsSourceOptions
        from spark_dns_spark.sources.transport import make_transport

        before = pre["before"]
        after = self.serials()
        touched = sorted(z for z in after if after[z] != before[z])
        bumps = sum(after[z] - before[z] for z in touched)
        out = {"sources.zonestore.serial_s": pre["serial_s"]}
        opts = {
            "store": self.root,
            "organization": gen.ORGANIZATION,
            "progress-dir": str(self.work / "replay_progress"),
        }
        t = time.perf_counter()
        (
            self.spark.read.format("dns")
            .option("store", self.root)
            .option("organization", gen.ORGANIZATION)
            .load()
        )
        out["sources.dns_source.load_s"] = time.perf_counter() - t
        reader = DnsStreamReader(opts)
        t = time.perf_counter()
        parts = reader.partitions(before, after)
        out["sources.dns_source.partitions_s"] = time.perf_counter() - t
        reads = []
        for p in parts:
            t = time.perf_counter()
            for _ in reader.read(p):
                pass
            reads.append(time.perf_counter() - t)
        out["sources.dns_source.read_s"] = sum(reads)
        out["sources.dns_source.read_max_partition_s"] = max(reads, default=0.0)
        transport = make_transport(DnsSourceOptions.parse(opts))
        t = time.perf_counter()
        for p in parts:
            transport.transfer(p.zone, p.from_serial, p.to_serial, p.axfr)
        out["sources.transport.transfer_s"] = time.perf_counter() - t
        store = ZoneStore(self.root)
        out.update(_store_replay(store, {z: before[z] for z in touched}))
        sizes = {z: os.path.getsize(_zone_file(self.root, z)) for z in touched}
        out["sources.zonestore.bytes_per_row"] = sum(sizes.values()) / max(n_rows, 1)
        out["sources.zonestore.bytes_rewritten_per_change"] = sum(
            (after[z] - before[z]) * sizes[z] for z in touched
        ) / max(n_rows, 1)
        out["sources.dns_sink.dedup_ratio"] = n_rows / op.rows_in
        out["sources.dns_sink.messages_per_zone"] = bumps / max(len(touched), 1)
        df = self.spark.read.parquet(str(self.batch_dir / f"b{op.batch:03d}.parquet"))
        t = time.perf_counter()
        dedup_updates_for_send(df).count()
        out["operators.changelog.dedup_s"] = time.perf_counter() - t
        out.update(self._progress())
        return out

    def _progress(self) -> dict:
        """StreamingQueryProgress of the micro-batches since the last call."""
        new = [
            p for p in self.query.recentProgress
            if p["batchId"] > self._progress_seen
        ]
        if new:
            self._progress_seen = max(p["batchId"] for p in new)
        with_rows = [p for p in new if p.get("numInputRows", 0) > 0]

        def dur(key):
            return sum(p["durationMs"].get(key, 0) for p in new) / 1000

        return {
            "sources.dns_source.stream.batches": len(with_rows),
            "sources.dns_source.stream.latest_offset_s": dur("latestOffset"),
            "sources.dns_source.stream.add_batch_s": dur("addBatch"),
            "sources.dns_source.stream.commit_s": dur("commitOffsets"),
        }

    def live_records(self) -> int:
        return sum(len(v) for v in self.feed.live.values())

    def traced_layers(self, records, evlog) -> dict:
        shares = [x for x in records if "send_s" in x and "catchup_s" in x]
        return {
            "sources.dns_sink.send_updates_s": _med(records, "send_s"),
            "sources.dns_source.stream.catchup_s": _med(records, "catchup_s"),
            "sources.dns_sink.send_share": _median(
                x["send_s"] / x["dt"] for x in shares),
            "sources.dns_source.stream.catchup_share": _median(
                x["catchup_s"] / x["dt"] for x in shares),
            **_zone_store_layers(self),
        }


# -- catalog_serve --------------------------------------------------------


def _epoch_us(ts) -> int:
    """A collected timestamp (naive, in the process's local zone) as epoch
    microseconds."""
    return int(ts.replace(microsecond=0).timestamp()) * 10**6 + ts.microsecond


class CatalogServe(Workload):
    """The change-log catalog queries over a generated events table: each
    op serves every query once, calling its builder and collecting its
    result."""

    #: per query: the expectation replay and the collected row as it is
    #: compared with it
    SHAPES = {
        "changelog_snapshot": (
            gen.expect_changelog_snapshot,
            lambda r: (r[0], r[1], r[2], _epoch_us(r[3])),
        ),
        "changelog_latest_wins": (
            gen.expect_changelog_latest_wins,
            lambda r: (r[0], r[1], r[2], _epoch_us(r[3]), r[4]),
        ),
    }

    def provision(self, k: int) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.events = gen.gen_events(self.seed)
        self.root = str(self.work / f"events{k}")
        os.makedirs(self.root, exist_ok=True)
        eid, uid, etype, ts, value = zip(*self.events)
        table = pa.table({
            "event_id": pa.array(eid, pa.int64()),
            "user_id": pa.array(uid, pa.int64()),
            "event_type": pa.array(etype, pa.string()),
            # no UTC flag, like the catalog's own test data
            "ts": pa.array(ts, pa.timestamp("us")),
            "value": pa.array(value, pa.float64()),
        })
        pq.write_table(table, os.path.join(self.root, "events.parquet"))

    def prepare(self) -> None:
        # every op answers every query: rows tagged with their query
        self.expected = gen.digest(
            (q, *row) for q in CATALOG_QUERIES for row in self.SHAPES[q][0](self.events)
        )

    def _op(self, name: str) -> Op:
        order = list(CATALOG_QUERIES)
        random.Random(f"catalog:{self.seed}:{name}").shuffle(order)
        return Op(name, self.expected, queries=tuple(order))

    def round(self, r: int) -> list[Op]:
        return [self._op(f"serve_{i}") for i in range(CATALOG_OPS)]

    def warm_ops(self) -> list[Op]:
        return [self._op(f"warm_{i}") for i in range(CATALOG_WARM_OPS)]

    def run(self, op: Op):
        from spark_dns_spark.plans import q_changelog

        rows = []
        for q in op.queries:
            with self.spans.span(f"{q}.build"):
                df = getattr(q_changelog, q)(self.spark, self.root)
            with self.spans.span(f"{q}.consume"):
                rows += [(q, row) for row in df.collect()]
        return rows

    def as_checked(self, op: Op, rows):
        return ((q, *self.SHAPES[q][1](row)) for q, row in rows)

    def replay(self, op: Op, n_rows: int, pre: dict) -> dict:
        return {}

    def traced_layers(self, records, evlog) -> dict:
        """Builder / consume split: span times, and the Spark jobs whose
        submission falls inside each span."""
        phases = []
        for x in records:
            if not x["ok"]:
                continue
            for q in CATALOG_QUERIES:
                ph = {"query": q}
                for name in ("build", "consume"):
                    t0, t1 = self.spans.window(f"{q}.{name}", x["i"])
                    ph[f"{name}_s"] = t1 - t0
                    ph[f"{name}_jobs"] = evlog.window(t0, t1)["jobs"]
                phases.append(ph)
        out = {}
        for key in ("build_s", "consume_s", "build_jobs", "consume_jobs"):
            out[f"plans.{key}"] = _median(ph[key] for ph in phases)
        for q in CATALOG_QUERIES:
            mine = [ph for ph in phases if ph["query"] == q]
            out[f"plans.{q}.build_s"] = _median(ph["build_s"] for ph in mine)
            out[f"plans.{q}.consume_s"] = _median(ph["consume_s"] for ph in mine)
            out[f"plans.{q}.jobs"] = _median(
                ph["build_jobs"] + ph["consume_jobs"] for ph in mine)
        return out


WORKLOADS = {
    "xfr_snapshot": XfrSnapshot,
    "ddns_cdc": DdnsCdc,
    "catalog_serve": CatalogServe,
}


# -- the run --------------------------------------------------------------


def run(args) -> dict:
    t_spawn = float(os.environ.get("PERFBENCH_T0", time.time()))
    traced = bool(args.trace)
    work = Path(args.work)
    spans = tracing.Spans()

    from spark_dns_spark.session import get_session, release_all_caches
    from spark_dns_spark.sources import register_all

    t = time.perf_counter()
    spark = get_session("perfbench")
    session_s = time.perf_counter() - t
    register_all(spark)
    jvm = tracing.jvm_pid(spark)

    wl = WORKLOADS[args.workload](spark, args.seed, work, spans)
    provision_s = []
    for k in range(PROVISION_REPEATS):
        t = time.perf_counter()
        wl.provision(k)
        provision_s.append(time.perf_counter() - t)
    t = time.perf_counter()
    wl.prepare()
    warm = []
    for k, op in enumerate(wl.warm_ops()):
        spans.op = -1 - k
        rec, _rows = _timed(wl, op, spans, jvm)
        warm.append(rec)
        if not rec["ok"]:
            raise RuntimeError(f"warm op {op.name} failed: {rec}")
    warm_s = time.perf_counter() - t

    # closed loop: whole rounds until the window has passed
    steal0 = tracing.host_steal_s()
    t_first = time.time()
    setup_s = t_first - t_spawn - sum(provision_s) + _median(provision_s)
    records: list[dict] = []
    per_op: list[dict] = []
    r = 0
    while (ops := wl.round(r)) is not None:
        for op in ops:
            spans.op = len(records)
            pre = wl.pre_replay() if traced else {}
            rec, rows = _timed(wl, op, spans, jvm)
            records.append(rec)
            if traced:
                lay = wl.replay(op, len(rows), pre) if rec["ok"] else {}
                t = time.perf_counter()
                release_all_caches(spark)
                lay["session.release_all_caches_s"] = time.perf_counter() - t
                per_op.append(lay)
        r += 1
        if time.time() - t_first >= args.seconds:
            break
    t_end = time.time()
    steal_s = tracing.host_steal_s() - steal0

    ok_ops = [rec for rec in records if rec["ok"]]
    failed = len(records) - len(ok_ops)
    jvm_mb = tracing.vm_hwm_mb(jvm)
    py_mb = tracing.vm_hwm_mb()
    retained = tracing.retained_mb(spark, jvm)
    wl.stop()
    spark.stop()

    rows = sum(x["rows"] for x in ok_ops)
    result = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "attempted": len(records),
        "failed": failed,
        "correct": failed == 0,
        "metrics": {
            "setup_s": setup_s,
            "op_cpu_p50_s": _median(x["cpu_s"] for x in ok_ops),
            "rows_per_cpu_s": rows / sum(x["cpu_s"] for x in records),
            "retained_mb": sum(retained.values()),
            # not gated: wall-clock twins (what one client waits, steal
            # included) and the resident-set peak
            "op_p50_s": _median(x["dt"] for x in ok_ops),
            "rows_per_s": rows / sum(x["dt"] for x in records),
            "peak_rss_mb": jvm_mb + py_mb,
        },
        "retained_mb": retained,
        "setup": {
            "session_s": session_s,
            "provision_s": provision_s,
            "warm_s": warm_s,
            "warm_ops": warm,
        },
        "hwm_mb": {"jvm": jvm_mb, "driver": py_mb},
        "window_s": t_end - t_first,
        # CPU time taken by the host from this machine during the window:
        # context for run-to-run spread of wall times, not a metric
        "host_steal_s": steal_s,
        "ops": records,
    }
    if traced:
        layers = {
            "session.get_session_s": session_s,
            "proc.jvm_hwm_mb": jvm_mb,
            "proc.driver_hwm_mb": py_mb,
            "proc.jvm_heap_retained_mb": retained["jvm_heap"],
            "proc.jvm_nonheap_mb": retained["jvm_nonheap"],
            "proc.python_pss_mb": retained["python"],
            "harness.gen_s": _median(provision_s),
            "harness.warm_s": warm_s,
            "harness.check_s": wl.check_s,
        }
        layers.update(_traced_layers(wl, records, per_op, t_first, t_end))
        result["layers"] = layers
        result["layers_per_op"] = per_op
    return result


def _timed(wl: Workload, op: Op, spans: tracing.Spans, jvm: int) -> tuple[dict, list]:
    """Run one op on the clock, then check its output off the clock."""
    rec: dict = {"i": spans.op, "name": op.name}
    cpu0 = tracing.cpu_s(jvm)
    t0, p0 = time.time(), time.perf_counter()
    try:
        rows = wl.run(op)
        t1, p1 = time.time(), time.perf_counter()
        cpu1 = tracing.cpu_s(jvm)
        ok, info = wl.check(op, rows)
        rec.update(rows=len(rows), ok=ok, **info)
    except Exception as e:  # noqa: BLE001 - a failed op is a result
        t1, p1 = time.time(), time.perf_counter()
        cpu1 = tracing.cpu_s(jvm)
        rows = []
        rec.update(rows=0, ok=False, error=f"{type(e).__name__}: {e}"[:500])
    # wall times place the op in the event log; the duration is monotonic
    rec.update(t0=t0, t1=t1, dt=p1 - p0,
               cpu_s=cpu1[0] - cpu0[0], jvm_cpu_s=cpu1[1] - cpu0[1])
    for name in ("load", "collect", "send", "catchup"):
        v = spans.total(name, spans.op)
        if v:
            rec[f"{name}_s"] = v
    return rec, rows


def _traced_layers(wl, records, per_op, t_first, t_end) -> dict:
    """Per-layer medians over the timed ops (see metrics.py)."""
    evlog = tracing.EventLog(tracing.read_event_log(os.environ["PERFBENCH_EVENTLOG"]))
    spark_ops = [evlog.window(x["t0"], x["t1"]) for x in records]
    for lay, sp in zip(per_op, spark_ops):
        if "sources.dns_source.read_s" in lay and sp["executor_run_s"] > 0:
            lay["sources.dns_source.self_share"] = (
                lay["sources.dns_source.read_s"] / sp["executor_run_s"]
            )
    out = {}
    for k in sorted({k for lay in per_op for k in lay}):
        out[k] = _median(lay[k] for lay in per_op if k in lay)
    for k in spark_ops[0] if spark_ops else ():
        out[f"spark.{k}"] = _median(sp[k] for sp in spark_ops)
    whole = evlog.window(t_first, t_end)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    out["spark.busy_ratio"] = whole["executor_run_s"] / ((t_end - t_first) * cores)
    out["proc.jvm_cpu_s"] = _median(x["jvm_cpu_s"] for x in records)
    out["proc.python_cpu_s"] = _median(x["cpu_s"] - x["jvm_cpu_s"] for x in records)
    out.update(wl.traced_layers(records, evlog))
    return out


def _zone_store_layers(wl) -> dict:
    sizes = sum(
        os.path.getsize(os.path.join(wl.root, f))
        for f in os.listdir(wl.root) if f.endswith(".zone.json")
    )
    return {"sources.zonestore.bytes_per_live_record": sizes / max(wl.live_records(), 1)}


def _med(records, key) -> float:
    return _median(x[key] for x in records if key in x)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    result = run(args)
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
