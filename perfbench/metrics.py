"""Metric catalog: every number the benchmark reports, with its unit and
which end-to-end metric (on which workload) a per-layer metric should move.

``END_TO_END`` and ``PER_LAYER`` are exactly what ``BENCHMARK.json`` lists
(a test pins the two together) and what the last stdout line carries with
``--trace 0`` and ``--trace 1``.  Every workload reports every one of them,
and none of them can read 0.

The end-to-end op time and throughput are taken in CPU seconds of every
process of the run (driver Python, JVM, Python workers): on a shared host
the hypervisor's steal stretches wall time by ±20% from one run to the
next, but is charged to no process.  Their wall-clock twins
are measured and printed with them, and recorded, but not
gated (``UNGATED``).  Memory is the memory a run holds at its end, not a
resident-set peak, for the same reason.

``RECORD_ONLY`` per-layer metrics are the layers only some workloads
exercise (``on``), plus those that may read 0.  Traced runs print them and
write them to the run record; the result line does not carry them.

A per-layer value is the median over a run's timed ops of that op's value
(seconds are per op), unless its description says otherwise.
"""

from __future__ import annotations

from dataclasses import dataclass

WORKLOADS = ("xfr_snapshot", "ddns_cdc", "catalog_serve")
ALL = WORKLOADS
ZONES = ("xfr_snapshot", "ddns_cdc")
DDNS = ("ddns_cdc",)
CATALOG = ("catalog_serve",)


@dataclass(frozen=True)
class Metric:
    name: str
    unit: str
    better: str
    doc: str
    bound: float | None = None  # end-to-end only
    moves: str = ""  # per-layer: end-to-end metric it should move
    on: tuple[str, ...] = ALL  # workloads where the layer does work


END_TO_END = (
    Metric("setup_s", "s", "lower", bound=0.25, doc=(
        "process start to first timed op: imports, session, input "
        "generation and provisioning (median of 3 in-run repeats), the "
        "untimed warm ops")),
    Metric("op_cpu_p50_s", "s", "lower", bound=0.25, doc=(
        "median CPU seconds of one op, all processes of the run: one read "
        "(xfr_snapshot), one send-to-visible cycle (ddns_cdc), one serve of "
        "every catalog query, builder call to collected result "
        "(catalog_serve)")),
    Metric("rows_per_cpu_s", "rows/cpu_s", "higher", bound=0.25, doc=(
        "rows delivered per CPU second over the op sequence: rows read "
        "(xfr_snapshot), changes applied and streamed back (ddns_cdc), "
        "result rows collected (catalog_serve)")),
    Metric("retained_mb", "MB", "lower", bound=0.15, doc=(
        "memory the run holds after the timed ops: the driver JVM's live "
        "heap after a full collection plus its non-heap use, and the PSS "
        "of the driver Python and the Python workers")),
)

#: Printed and recorded with the end-to-end metrics, not gated: the
#: wall-clock twins of the CPU metrics, and the resident-set peak, which
#: follows when the collector grew the heap (±20% run to run).
UNGATED = (
    Metric("op_p50_s", "s", "lower", doc="median op wall time"),
    Metric("rows_per_s", "rows/s", "higher",
           doc="rows delivered per wall second over the op sequence"),
    Metric("peak_rss_mb", "MB", "lower", doc=(
        "VmHWM of the driver JVM plus the driver Python process at run end")),
)

PER_LAYER = (
    Metric("session.get_session_s", "s", "lower", moves="setup_s",
           doc="get_session() wall time, JVM launch included (one call)"),
    Metric("session.release_all_caches_s", "s", "lower",
           moves="op_cpu_p50_s", doc="release_all_caches() after the op"),
    Metric("spark.jobs", "count", "lower", moves="op_cpu_p50_s",
           doc="jobs per op (event log)"),
    Metric("spark.stages", "count", "lower", moves="op_cpu_p50_s",
           doc="stages per op"),
    Metric("spark.tasks", "count", "lower", moves="op_cpu_p50_s",
           doc="tasks per op"),
    Metric("spark.executor_run_s", "s", "lower", moves="rows_per_cpu_s",
           doc="summed task executor run time per op"),
    Metric("spark.executor_cpu_s", "s", "lower", moves="rows_per_cpu_s",
           doc="summed task executor CPU time per op"),
    Metric("spark.busy_ratio", "ratio", "higher", moves="rows_per_cpu_s",
           doc="executor run time / (timed wall x cores), whole window"),
    Metric("spark.driver_gap_s", "s", "lower", moves="op_cpu_p50_s",
           doc="op wall time with no Spark job running"),
    Metric("spark.task_skew", "ratio", "lower", moves="rows_per_cpu_s",
           doc="max / median task time in the op's longest stage (a "
               "median under 1 ms counts as 1 ms)"),
    Metric("proc.jvm_cpu_s", "s", "lower", moves="op_cpu_p50_s",
           doc="CPU seconds of the JVM itself per op"),
    Metric("proc.python_cpu_s", "s", "lower", moves="op_cpu_p50_s",
           doc="CPU seconds of the driver Python and the Python workers "
               "per op"),
    Metric("proc.jvm_heap_retained_mb", "MB", "lower", moves="retained_mb",
           doc="driver JVM live heap after a full collection, run end"),
    Metric("proc.jvm_nonheap_mb", "MB", "lower", moves="retained_mb",
           doc="driver JVM non-heap use (class metadata, code), run end"),
    Metric("proc.python_pss_mb", "MB", "lower", moves="retained_mb",
           doc="PSS of the driver Python and the Python workers, run end"),
    Metric("proc.jvm_hwm_mb", "MB", "lower", moves="",
           doc="driver JVM VmHWM at run end (peak_rss_mb's part)"),
    Metric("harness.gen_s", "s", "lower", moves="",
           doc="input generation + provisioning, median of 3 repeats"),
    Metric("harness.check_s", "s", "lower", moves="",
           doc="output checks, summed over the run"),
    Metric("harness.trace_overhead_ratio", "ratio", "lower", moves="",
           doc="traced op_cpu_p50_s / op_cpu_p50_s of the untraced run of "
               "the same seed made just before it; context, moves nothing"),
)

RECORD_ONLY = (
    Metric("sources.dns_source.load_s", "s", "lower", moves="op_cpu_p50_s",
           on=ZONES,
           doc="spark.read.format('dns')...load() (planning-side schema "
               "and reader construction); replayed on ddns_cdc"),
    Metric("sources.dns_source.partitions_s", "s", "lower",
           moves="op_cpu_p50_s", on=ZONES, doc="replayed reader.partitions()"),
    Metric("sources.dns_source.read_s", "s", "lower", moves="rows_per_cpu_s",
           on=ZONES,
           doc="replayed reader.read() summed over the op's partitions"),
    Metric("sources.dns_source.read_max_partition_s", "s", "lower",
           moves="op_cpu_p50_s", on=ZONES, doc="slowest replayed partition read"),
    Metric("sources.dns_source.self_share", "ratio", "lower",
           moves="rows_per_cpu_s", on=ZONES,
           doc="read_s / the op's Spark executor run time"),
    Metric("sources.transport.transfer_s", "s", "lower",
           moves="rows_per_cpu_s", on=ZONES,
           doc="replayed transport.transfer() summed over the op's zones"),
    Metric("sources.zonestore.axfr_s", "s", "lower", moves="rows_per_cpu_s",
           on=ZONES, doc="replayed ZoneStore.axfr() summed over the op's zones"),
    Metric("sources.zonestore.ixfr_s", "s", "lower", moves="rows_per_cpu_s",
           on=ZONES, doc="replayed ZoneStore.ixfr() summed over the op's zones"),
    Metric("sources.zonestore.snapshot_at_s", "s", "lower",
           moves="rows_per_cpu_s", on=ZONES,
           doc="replayed ZoneStore.snapshot_at() at the op's start serial, "
               "summed over the op's zones where servable"),
    Metric("sources.zonestore.zones_s", "s", "lower", moves="op_cpu_p50_s",
           on=ZONES, doc="replayed ZoneStore.zones()"),
    Metric("sources.zonestore.serial_s", "s", "lower", moves="op_cpu_p50_s",
           on=ZONES,
           doc="replayed serial poll of every zone (what latestOffset does)"),
    Metric("sources.zonestore.bytes_per_row", "B/row", "lower",
           moves="rows_per_cpu_s", on=ZONES,
           doc="zone-file bytes behind each transfer / rows returned "
               "(read waste)"),
    Metric("sources.zonestore.bytes_per_live_record", "B", "lower",
           moves="rows_per_cpu_s", on=ZONES,
           doc="zone-file bytes / live records, whole store at run end"),
    Metric("sources.zonestore.bytes_rewritten_per_change", "B", "lower",
           moves="rows_per_cpu_s", on=DDNS,
           doc="zone-file bytes rewritten (one whole file per message) / "
               "changes applied"),
    Metric("sources.dns_sink.send_updates_s", "s", "lower",
           moves="op_cpu_p50_s", on=DDNS, doc="send_updates() per cycle"),
    Metric("sources.dns_sink.send_share", "ratio", "lower",
           moves="op_cpu_p50_s", on=DDNS,
           doc="send_updates() share of the cycle's wall time"),
    Metric("sources.dns_sink.dedup_ratio", "ratio", "lower",
           moves="rows_per_cpu_s", on=DDNS,
           doc="changes applied / input rows"),
    Metric("sources.dns_sink.messages_per_zone", "ratio", "lower",
           moves="rows_per_cpu_s", on=DDNS,
           doc="serial bumps / zones touched"),
    Metric("operators.changelog.dedup_s", "s", "lower", moves="op_cpu_p50_s",
           on=DDNS, doc="replayed dedup_updates_for_send(batch).count()"),
    Metric("sources.dns_source.stream.catchup_s", "s", "lower",
           moves="op_cpu_p50_s", on=DDNS,
           doc="end of send to return of processAllAvailable()"),
    Metric("sources.dns_source.stream.catchup_share", "ratio", "lower",
           moves="op_cpu_p50_s", on=DDNS,
           doc="catchup_s share of the cycle's wall time"),
    Metric("sources.dns_source.stream.batches", "count", "lower",
           moves="op_cpu_p50_s", on=DDNS,
           doc="micro-batches with input rows per cycle"),
    Metric("sources.dns_source.stream.latest_offset_s", "s", "lower",
           moves="op_cpu_p50_s", on=DDNS,
           doc="StreamingQueryProgress durationMs.latestOffset, per cycle"),
    Metric("sources.dns_source.stream.add_batch_s", "s", "lower",
           moves="op_cpu_p50_s", on=DDNS,
           doc="StreamingQueryProgress durationMs.addBatch, per cycle"),
    Metric("sources.dns_source.stream.commit_s", "s", "lower",
           moves="op_cpu_p50_s", on=DDNS,
           doc="StreamingQueryProgress durationMs.commitOffsets, per cycle"),
    Metric("plans.build_s", "s", "lower", moves="op_cpu_p50_s", on=CATALOG,
           doc="query builder call to returned DataFrame, per query"),
    Metric("plans.consume_s", "s", "lower", moves="op_cpu_p50_s", on=CATALOG,
           doc="collect() of the builder's DataFrame, per query"),
    Metric("plans.build_jobs", "count", "lower", moves="op_cpu_p50_s",
           on=CATALOG, doc="Spark jobs submitted before the builder returns"),
    Metric("plans.consume_jobs", "count", "lower", moves="op_cpu_p50_s",
           on=CATALOG, doc="Spark jobs submitted by the collect()"),
    # per catalog query q of worker.CATALOG_QUERIES, also recorded:
    # plans.<q>.build_s, plans.<q>.consume_s (s) and plans.<q>.jobs (count)
    Metric("spark.gc_s", "s", "lower", moves="op_cpu_p50_s",
           doc="summed task JVM GC time per op"),
    Metric("spark.shuffle_write_bytes", "B", "lower", moves="op_cpu_p50_s",
           doc="shuffle bytes written per op"),
    Metric("spark.shuffle_read_bytes", "B", "lower", moves="op_cpu_p50_s",
           doc="shuffle bytes read per op"),
    Metric("spark.spill_bytes", "B", "lower", moves="op_cpu_p50_s",
           doc="memory + disk bytes spilled per op"),
    Metric("proc.driver_hwm_mb", "MB", "lower", moves="",
           doc="driver Python VmHWM at run end (peak_rss_mb's part)"),
    Metric("harness.warm_s", "s", "lower", moves="",
           doc="the untimed warm ops"),
)


def unit_of(name: str) -> str:
    """Unit of any recorded metric, the per-query ``plans.*`` ones too."""
    for m in END_TO_END + UNGATED + PER_LAYER + RECORD_ONLY:
        if m.name == name:
            return m.unit
    return "count" if name.endswith("jobs") else "s"
