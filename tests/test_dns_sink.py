"""Sink tests — replicate the reference's write matrix
(src/test/.../write/DnsSinkRelationProviderTest.java:96-209 and
DnsUpdateTest.java:42-75): write updates, then *resolve every written
fqdn against the store* — adds must resolve, deletes must not.
"""

from __future__ import annotations

import datetime as dt

import pytest

from spark_dns_spark.sources import register_all
from spark_dns_spark.sources.dns_sink import send_updates
from spark_dns_spark.sources.zonestore import ZoneStore


@pytest.fixture()
def store(tmp_path):
    s = ZoneStore(str(tmp_path / "zones"))
    s.create_zone("example.acme.", records=[], serial=1)
    return s


def _update_rows():
    """The reference generator (DnsSinkRelationProviderTest.java:199-209):
    10 rows, id<5 ⇒ IXFR_ADD else IXFR_DELETE, fqdn=host{id}.example.acme
    (no trailing dot — exercises F6), ip=127.0.0.{id%256}, ttl=id+1."""
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


SCHEMA = "action string, fqdn string, ip string, timestamp timestamp, ttl int"


def test_batch_write_then_resolve(spark, store):
    # pre-provision the records the deletes refer to
    store.apply_update(
        "example.acme.",
        [("IXFR_ADD", f"host{i}.example.acme.", f"127.0.0.{i}") for i in range(5, 10)],
    )
    df = spark.createDataFrame(_update_rows(), SCHEMA)
    register_all(spark)
    (
        df.write.format("dns_update")
        .option("store", store.root)
        .mode("append")
        .save()
    )
    # oracle: adds resolve to exactly 1 record, deletes don't
    # (DnsSinkRelationProviderTest.java:182-197)
    for i in range(5):
        assert store.resolve("example.acme.", f"host{i}.example.acme.") == [
            f"127.0.0.{i}"
        ]
    for i in range(5, 10):
        assert store.resolve("example.acme.", f"host{i}.example.acme.") == []


def test_send_updates_global_dedup(spark, store):
    """Two conflicting updates for one identity in different partitions:
    the reference sends both (per-partition dedup only, SURVEY.md §4);
    send_updates dedups globally — only the latest is applied."""
    base = dt.datetime(2024, 1, 1)
    rows = [
        ("IXFR_ADD", "h.example.acme", "1.1.1.1", base, 1),
        ("IXFR_DELETE", "h.example.acme", "1.1.1.1", base + dt.timedelta(hours=1), 1),
    ]
    df = spark.createDataFrame(rows, SCHEMA).repartition(2)
    register_all(spark)
    send_updates(df, store.root)
    # the identities (action, fqdn, ip) differ, so both survive the dedup
    # and go out in one zone message in timestamp order: the add, then
    # the newer delete, so the name resolves to nothing.
    assert store.resolve("example.acme.", "h.example.acme.") == []


def test_send_updates_latest_wins_same_identity(spark, store):
    base = dt.datetime(2024, 1, 1)
    rows = [
        ("IXFR_ADD", "H.example.acme.", "2.2.2.2", base, 1),  # F1: case folds
        ("IXFR_ADD", "h.example.acme", "2.2.2.2", base + dt.timedelta(minutes=5), 1),
        # zone labels fold too: the zone is derived after lower-casing
        ("IXFR_ADD", "H.EXAMPLE.ACME", "2.2.2.2", base + dt.timedelta(minutes=1), 1),
    ]
    df = spark.createDataFrame(rows, SCHEMA).repartition(2)
    register_all(spark)
    send_updates(df, store.root)
    assert store.resolve("example.acme.", "h.example.acme.") == ["2.2.2.2"]
    # exactly one history entry per deduped identity (serial bumped once)
    assert store.serial("example.acme.") == 2


def test_send_updates_zone_from_folded_fqdn(spark, store):
    """Every spelling of one name shares a write task: the zone is derived
    after lower-casing, so the writer's per-task latest-wins stays global
    even when no shuffle partitions are coalesced."""
    base = dt.datetime(2024, 1, 1)
    names = ["h.example.acme.", "H.EXAMPLE.ACME", "h.Example.Acme", "H.example.ACME."]
    rows = [
        ("IXFR_ADD", n, "5.5.5.5", base + dt.timedelta(minutes=i), 1)
        for i, n in enumerate(names)
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    register_all(spark)
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        send_updates(df, store.root)
    finally:
        spark.conf.set(key, prev)
    assert store.resolve("example.acme.", "h.example.acme.") == ["5.5.5.5"]
    assert store.serial("example.acme.") == 2


@pytest.mark.parametrize(
    "older",
    [
        ("IXFR_ADD", "v.example.acme", "4.4.4.4", dt.datetime(2024, 1, 1), 0),
        ("IXFR_ADD", "v.example.acme", "4.4.4.4", None, 1),
    ],
    ids=["ttl", "null-timestamp"],
)
def test_send_updates_invalid_shadowed_row_raises(spark, store, older):
    """P4 throws on the first invalid row (DnsPartitionHandler.java:69-77),
    even when a newer duplicate of its key would win the dedup."""
    newer = ("IXFR_ADD", "v.example.acme", "4.4.4.4", dt.datetime(2024, 1, 2), 1)
    df = spark.createDataFrame([older, newer], SCHEMA)
    register_all(spark)
    with pytest.raises(Exception, match="invalid update"):
        send_updates(df, store.root)


def test_send_updates_single_exchange(spark, store, monkeypatch):
    """A multi-partition input shuffles once, on the zone: no window
    and no exchange on the (action, fqdn, ip) key before the write."""
    store.apply_update(
        "example.acme.",
        [("IXFR_ADD", f"host{i}.example.acme.", f"127.0.0.{i}") for i in range(5, 10)],
    )
    from pyspark.sql.classic.dataframe import DataFrame

    df = spark.createDataFrame(_update_rows(), SCHEMA)
    assert df.rdd.getNumPartitions() > 1
    # send_updates runs its writer on one DataFrame's .rdd (a
    # cached_property): record that DataFrame's physical plan
    rdd, plans = DataFrame.rdd, []

    def _rdd(d):
        plans.append(d._jdf.queryExecution().executedPlan().toString())
        return rdd.func(d)

    monkeypatch.setattr(DataFrame, "rdd", property(_rdd))
    send_updates(df, store.root)
    (plan,) = plans
    exchanges = [ln for ln in plan.splitlines() if "Exchange " in ln]
    assert len(exchanges) == 1, plan
    assert "hashpartitioning(zone#" in exchanges[0], plan
    assert "REPARTITION_BY_COL" in exchanges[0], plan
    assert "ENSURE_REQUIREMENTS" not in plan, plan
    assert "Window" not in plan, plan
    for i in range(5):
        assert store.resolve("example.acme.", f"host{i}.example.acme.") == [
            f"127.0.0.{i}"
        ]
    for i in range(5, 10):
        assert store.resolve("example.acme.", f"host{i}.example.acme.") == []


def test_send_updates_one_partition_dedup(spark, store):
    """Duplicates in other spellings and timestamps in a one-partition
    input collapse to the latest per (action, fqdn, ip), applied in
    timestamp order."""
    base = dt.datetime(2024, 1, 1)

    def at(minutes):
        return base + dt.timedelta(minutes=minutes)

    rows = [
        ("IXFR_ADD", "h.example.acme", "6.6.6.6", at(0), 1),
        ("IXFR_DELETE", "H.Example.Acme.", "6.6.6.6", at(1), 1),
        ("IXFR_ADD", "H.EXAMPLE.ACME", "6.6.6.6", at(4), 1),
        ("IXFR_DELETE", "h.example.ACME", "6.6.6.6", at(3), 1),
        ("IXFR_ADD", "h.Example.acme.", "6.6.6.6", at(2), 1),
        ("IXFR_ADD", "G.example.acme", "7.7.7.7", at(5), 1),
        ("IXFR_ADD", "g.example.acme.", "7.7.7.7", at(1), 1),
    ]
    df = spark.createDataFrame(rows, SCHEMA).coalesce(1)
    send_updates(df, store.root)
    assert store.resolve("example.acme.", "h.example.acme.") == ["6.6.6.6"]
    assert store.resolve("example.acme.", "g.example.acme.") == ["7.7.7.7"]
    # one message: the latest of each key, in timestamp order
    assert store.serial("example.acme.") == 2
    assert store.ixfr("example.acme.", 1).rows == [
        ("IXFR_DELETE", "h.example.acme.", "6.6.6.6"),
        ("IXFR_ADD", "h.example.acme.", "6.6.6.6"),
        ("IXFR_ADD", "g.example.acme.", "7.7.7.7"),
    ]


def test_send_updates_reads_session_conf(spark, store):
    """spark.dns.* conf fills the options send_updates leaves out, as it
    does for the dns_update format; an explicit option wins.  The conf
    is read when send_updates is called, so a key set after
    register_all reaches send_updates but not the format, which keeps
    the snapshot register_all took."""
    ts = dt.datetime(2024, 1, 1)
    rows = [
        ("IXFR_ADD", "ok.example.acme", "2.2.2.2", ts, 1),
        ("IXFR_ADD", "a.no.such.zone", "1.1.1.1", ts, 1),
    ]
    df = spark.createDataFrame(rows, SCHEMA).coalesce(1)
    register_all(spark)
    spark.conf.set("spark.dns.ignore-failures", "true")
    try:
        with pytest.raises(Exception, match="zone not served"):
            df.write.format("dns_update").option("store", store.root).mode(
                "append"
            ).save()
        send_updates(df, store.root)
        assert store.resolve("example.acme.", "ok.example.acme.") == ["2.2.2.2"]
        with pytest.raises(Exception, match="zone not served"):
            send_updates(df, store.root, ignore_failures=False)
    finally:
        spark.conf.unset("spark.dns.ignore-failures")


def test_send_updates_unknown_option_raises_before_a_job(spark, store):
    from spark_dns_spark.sources.options import OptionError

    sc = spark.sparkContext
    group = "send-updates-unknown-option"
    df = spark.createDataFrame(_update_rows(), SCHEMA)
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        with pytest.raises(OptionError, match="unknown option: global-dedup"):
            send_updates(df, store.root, global_dedup=False)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert store.serial("example.acme.") == 1


@pytest.mark.parametrize("parts", [1, 2])
@pytest.mark.parametrize(
    "bad",
    [
        ("IXFR_ADD", "", "1.1.1.1", dt.datetime(2024, 1, 1), 1),
        ("IXFR_ADD", "a.example.acme", " ", dt.datetime(2024, 1, 1), 1),
        ("BOGUS", "a.example.acme", "1.1.1.1", dt.datetime(2024, 1, 1), 1),
    ],
    ids=["empty-fqdn", "blank-ip", "action"],
)
def test_send_updates_invalid_row_raises(spark, store, bad, parts):
    """P4 holds for one- and multi-partition input: the writer sees the
    rows as given, so an empty fqdn is not turned into '.' by the zone
    exchange."""
    good = ("IXFR_ADD", "b.example.acme", "1.1.1.1", dt.datetime(2024, 1, 1), 1)
    df = spark.createDataFrame([good, bad], SCHEMA)
    df = df.coalesce(1) if parts == 1 else df.repartition(parts)
    with pytest.raises(Exception, match="invalid update"):
        send_updates(df, store.root)


def test_send_updates_without_register_all(spark, store):
    """send_updates needs no registered format: a session that never
    ran register_all can still send."""
    fresh = spark.newSession()
    df = fresh.createDataFrame(_update_rows()[:5], SCHEMA)
    with pytest.raises(Exception, match="DATA_SOURCE_NOT_FOUND"):
        df.write.format("dns_update").option("store", store.root).mode(
            "append"
        ).save()
    send_updates(df, store.root)
    for i in range(5):
        assert store.resolve("example.acme.", f"host{i}.example.acme.") == [
            f"127.0.0.{i}"
        ]


def test_send_updates_empty_input(spark, store):
    """An empty input still runs one write task after the zone
    exchange, with or without input partitions, so the port is checked
    as the dns_update format's write checks it."""
    store.set_server(port=53)
    empty = spark.createDataFrame(spark.sparkContext.emptyRDD(), SCHEMA)
    assert empty.rdd.getNumPartitions() == 0
    one_empty = spark.createDataFrame([], SCHEMA).coalesce(1)
    for df in (empty, one_empty):
        with pytest.raises(Exception, match="connection refused"):
            send_updates(df, store.root, port=5353)
    send_updates(empty, store.root, port=53)
    assert store.serial("example.acme.") == 1


def test_write_to_unknown_zone_raises(spark, store):
    # DnsUpdateTest.java:60-75: update to non-served zone ⇒ rcode error
    df = spark.createDataFrame(
        [("IXFR_ADD", "a.no.such.zone", "1.1.1.1", dt.datetime(2024, 1, 1), 1)],
        SCHEMA,
    )
    register_all(spark)
    with pytest.raises(Exception, match="zone not served"):
        df.write.format("dns_update").option("store", store.root).mode(
            "append"
        ).save()


@pytest.mark.parametrize("fault", ["bad-port", "unknown-zone"])
def test_store_sink_failure_model(spark, store, fault):
    """ignore-failures on a write skips unknown zones only: a refused
    connection raises anyway (DnsUpdate.java:76-80), while an unknown
    zone is skipped and the known zone beside it still applies."""
    store.set_server(port=53)
    ts = dt.datetime(2024, 1, 1)
    rows = [("IXFR_ADD", "ok.example.acme", "2.2.2.2", ts, 1)]
    if fault == "unknown-zone":
        rows.append(("IXFR_ADD", "a.no.such.zone", "1.1.1.1", ts, 1))
    register_all(spark)
    write = (
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.format("dns_update")
        .option("store", store.root)
        .option("port", "5353" if fault == "bad-port" else "53")
        .option("ignore-failures", "true")
        .mode("append")
    )
    if fault == "bad-port":
        with pytest.raises(Exception, match="connection refused"):
            write.save()
        assert store.resolve("example.acme.", "ok.example.acme.") == []
    else:
        write.save()
        assert store.resolve("example.acme.", "ok.example.acme.") == ["2.2.2.2"]


def test_write_invalid_rows_raise(spark, store):
    register_all(spark)
    cases = [
        ("IXFR_ADD", "", "1.1.1.1", dt.datetime(2024, 1, 1), 1),  # empty fqdn
        ("IXFR_ADD", "a.example.acme", "", dt.datetime(2024, 1, 1), 1),  # empty ip
        ("IXFR_ADD", "a.example.acme", "1.1.1.1", dt.datetime(2024, 1, 1), 0),  # ttl
        ("BOGUS", "a.example.acme", "1.1.1.1", dt.datetime(2024, 1, 1), 1),  # action
    ]
    for row in cases:
        df = spark.createDataFrame([row], SCHEMA)
        with pytest.raises(Exception, match="invalid update"):
            df.write.format("dns_update").option("store", store.root).mode(
                "append"
            ).save()


def test_sql_insert_into_sink(spark, store):
    # S9: INSERT INTO ... via SQL on a temp view USING dns_update
    # (DnsSinkRelation.java:33-42 / README SQL example)
    register_all(spark)
    spark.sql(
        f"""CREATE OR REPLACE TEMPORARY VIEW dns_out USING dns_update
            OPTIONS (store '{store.root}')"""
    )
    spark.sql(
        """INSERT INTO dns_out
           SELECT 'IXFR_ADD' AS action, 'sqlhost.example.acme' AS fqdn,
                  '9.9.9.9' AS ip, TIMESTAMP '2024-01-01 00:00:00' AS timestamp,
                  60 AS ttl"""
    )
    assert store.resolve("example.acme.", "sqlhost.example.acme.") == ["9.9.9.9"]


def test_streaming_sink_foreachbatch_and_native(spark, store, tmp_path):
    """S10 both ways: native writeStream.format('dns_update') and the
    foreachBatch composition (DnsStreamingBatchHandler.java:11-13 calls
    its own sink 'a simplified form of foreachBatch')."""
    register_all(spark)
    src = spark.createDataFrame(_update_rows()[:5], SCHEMA)
    path = str(tmp_path / "stream_src")
    src.write.mode("overwrite").parquet(path)

    stream = spark.readStream.schema(src.schema).parquet(path)
    q = (
        stream.writeStream.format("dns_update")
        .option("store", store.root)
        .option("checkpointLocation", str(tmp_path / "ckpt1"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    for i in range(5):
        assert store.resolve("example.acme.", f"host{i}.example.acme.") == [
            f"127.0.0.{i}"
        ]

    # foreachBatch variant with global dedup per batch
    store2 = ZoneStore(store.root + "2")
    store2.create_zone("example.acme.", records=[], serial=1)
    q2 = (
        spark.readStream.schema(src.schema)
        .parquet(path)
        .writeStream.foreachBatch(
            lambda bdf, _bid: send_updates(bdf, store2.root)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(60)
    for i in range(5):
        assert store2.resolve("example.acme.", f"host{i}.example.acme.") == [
            f"127.0.0.{i}"
        ]
