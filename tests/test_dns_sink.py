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
    # record identity (action,fqdn,ip) differs → both survive dedup and
    # both apply; the delete happens to land after the add alphabetically?
    # No — actions are distinct identities, both messages applied to the
    # same zone message sorted by action: IXFR_ADD < IXFR_DELETE, so the
    # add applies then the delete: resolves to nothing.
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
    """The send path shuffles once, on the zone: no window and no
    exchange on the (action, fqdn, ip) key before the write."""
    from pyspark.sql.readwriter import DataFrameWriter

    sent = []
    monkeypatch.setattr(DataFrameWriter, "save", lambda w, *a, **k: sent.append(w._df))
    df = spark.createDataFrame(_update_rows(), SCHEMA)
    send_updates(df, store.root)
    (out,) = sent
    plan = out._jdf.queryExecution().executedPlan().toString()
    exchanges = [ln for ln in plan.splitlines() if "Exchange " in ln]
    assert len(exchanges) == 1, plan
    assert "hashpartitioning(zone#" in exchanges[0], plan
    assert "REPARTITION_BY_COL" in exchanges[0], plan
    assert "ENSURE_REQUIREMENTS" not in plan, plan
    assert "Window" not in plan, plan


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
