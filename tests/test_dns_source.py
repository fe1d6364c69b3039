"""Connector read tests — replicate the reference's integration matrix
(src/test/.../read/DnsSourceRelationProviderTest.java:86-241) against
the in-process zone store instead of a Bind9 container (SURVEY.md §5).
"""

from __future__ import annotations

from types import SimpleNamespace

import pytest
from pyspark.sql.datasource import EqualTo

from spark_dns_spark.sources import register_all
from spark_dns_spark.sources.dns_source import (
    READ_SCHEMA,
    DnsBatchReader,
    DnsZonePartition,
    ZoneTransfer,
    pack_transfers,
)
from spark_dns_spark.sources.zonestore import ZoneNotFoundError, ZoneStore


@pytest.fixture()
def store(tmp_path):
    """Two zones mirroring the Bind9 fixtures: example.acme (3 records),
    another.zone (5 records) — db.example.acme:1-12, db.another.zone:1-14."""
    s = ZoneStore(str(tmp_path / "zones"))
    s.create_zone(
        "example.acme.",
        records=[
            ("workstation1.example.acme.", "192.168.1.1"),
            ("workstation2.example.acme.", "192.168.1.2"),
            ("server1.example.acme.", "192.168.1.10"),
        ],
        serial=1,
    )
    s.create_zone(
        "another.zone.",
        records=[(f"host{i}.another.zone.", f"10.0.0.{i}") for i in range(1, 6)],
        serial=1,
    )
    return s


def _zipf_store(root: str, n: int = 24) -> ZoneStore:
    """``n`` zones, ``z00.test.`` the largest, sizes falling like 1/rank."""
    s = ZoneStore(root)
    for i in range(n):
        z = f"z{i:02d}.test."
        s.create_zone(
            z, records=[(f"h{j}.{z}", f"10.{i}.0.{j}") for j in range(96 // (i + 1))]
        )
    return s


def _zones(parts) -> list[list[str]]:
    return [[t.zone for t in p.transfers] for p in parts]


def _read(spark, store, **opts):
    register_all(spark)
    reader = spark.read.format("dns").option("store", store.root)
    for k, v in opts.items():
        reader = reader.option(k.replace("_", "-"), str(v))
    return reader.load()


def test_batch_axfr_read(spark, store):
    df = _read(spark, store, zones="example.acme.,another.zone.", xfr="axfr",
               organization="Acme Inc.")
    assert df.columns == ["action", "fqdn", "ip", "organization", "timestamp", "zone"]
    rows = df.collect()
    assert len(rows) == 8
    assert {r.action for r in rows} == {"AXFR"}
    assert {r.organization for r in rows} == {"Acme Inc."}
    by_zone = {r.zone for r in rows}
    assert by_zone == {"example.acme.", "another.zone."}
    # per-zone constant timestamp (DnsZoneRDD.java:94)
    assert len({r.timestamp for r in rows}) == 1


def test_zones_default_to_all_served(spark, store):
    assert _read(spark, store, xfr="axfr").count() == 8


def test_ixfr_serial0_is_full_snapshot(spark, store):
    df = _read(spark, store, zones="example.acme.", xfr="ixfr", serial=0)
    assert df.count() == 3  # Xfr.java:42-49: serial 0 ⇒ AXFR interpretation


def test_ixfr_delta_only(spark, store):
    store.apply_update(
        "example.acme.",
        [("IXFR_ADD", "new1.example.acme.", "192.168.1.50"),
         ("IXFR_DELETE", "workstation1.example.acme.", "192.168.1.1")],
    )
    df = _read(spark, store, zones="example.acme.", xfr="ixfr", serial=1)
    rows = {(r.action, r.fqdn, r.ip) for r in df.collect()}
    assert rows == {
        ("IXFR_ADD", "new1.example.acme.", "192.168.1.50"),
        ("IXFR_DELETE", "workstation1.example.acme.", "192.168.1.1"),
    }


def test_ixfr_ancient_serial_falls_back_to_axfr(spark, store):
    """Requested-IXFR-answered-AXFR: we interpret by the answer (SURVEY.md
    §7.3), so a serial below retained history yields the snapshot, not
    the reference's silent zero rows."""
    store.apply_update("example.acme.", [("IXFR_ADD", "x.example.acme.", "1.1.1.1")])
    s2 = ZoneStore(store.root)
    # serial=1 has history (serial 2 entries); drop history to force fallback
    d = s2._load("example.acme.")
    d["history"] = []
    s2._write_atomic("example.acme.", d)
    df = _read(spark, store, zones="example.acme.", xfr="ixfr", serial=1)
    assert {r.action for r in df.collect()} == {"AXFR"}
    assert df.count() == 4


def test_unreachable_zone_fails(spark, store):
    df = _read(spark, store, zones="nonexistent.zone.", xfr="axfr")
    with pytest.raises(Exception, match="zone not served"):
        df.collect()


def test_unreachable_zone_ignore_failures_empty(spark, store):
    # T7: suppress ⇒ empty partition (DnsZoneRDD.java:82-92)
    df = _read(spark, store, zones="nonexistent.zone.", xfr="axfr",
               ignore_failures="true")
    assert df.count() == 0


def test_fail_zones_injection_matrix(spark, store):
    df = _read(spark, store, zones="example.acme.,another.zone.",
               xfr="axfr", fail_zones="example.acme.")
    with pytest.raises(Exception, match="simulated transfer failure"):
        df.collect()
    df2 = _read(spark, store, zones="example.acme.,another.zone.",
                xfr="axfr", fail_zones="example.acme.", ignore_failures="true")
    assert df2.count() == 5  # failing zone suppressed, healthy zone intact


def test_sql_view_using_dns(spark, store):
    # S2 SQL variant (DnsSourceRelationProviderTest SQL tests).  Note:
    # Spark 4.1 forwards OPTIONS to Python data sources for
    # `CREATE TEMPORARY VIEW ... USING` but not `CREATE TABLE ... USING`,
    # so the SQL surface is the temp-view form.
    register_all(spark)
    spark.sql(
        f"""CREATE OR REPLACE TEMPORARY VIEW dns_tbl USING dns
            OPTIONS (store '{store.root}', zones 'example.acme.', xfr 'axfr')"""
    )
    assert spark.sql("SELECT fqdn, ip FROM dns_tbl").count() == 3
    assert spark.sql(
        "SELECT count(*) AS n FROM dns_tbl WHERE zone = 'example.acme.'"
    ).collect()[0].n == 3


def test_user_schema_is_rejected(spark, store):
    # DnsSourceRelationProvider.java:51-53 silently ignores user schemas;
    # the Python DataSource API honors them, so ours rejects loudly —
    # a documented deviation (silent-ignore is impossible here).
    register_all(spark)
    with pytest.raises(Exception, match="fixed schema"):
        (
            spark.read.format("dns")
            .schema("a string, b string")
            .option("store", store.root)
            .option("zones", "example.acme.")
            .option("xfr", "axfr")
            .load()
            .collect()
        )


def test_zone_filter_pushdown_prunes_partitions(spark, store):
    # beyond-reference: EqualTo('zone') prunes before any transfer; a
    # poisoned other-zone proves it never ran
    df = _read(spark, store, zones="example.acme.,another.zone.",
               xfr="axfr", fail_zones="another.zone.")
    good = df.filter(df.zone == "example.acme.")
    assert good.count() == 3  # would raise if another.zone. were scanned


def test_option_validation_errors(spark, store):
    from spark_dns_spark.sources.options import DnsSourceOptions, OptionError

    with pytest.raises(OptionError):
        DnsSourceOptions.parse({})
    with pytest.raises(OptionError):
        DnsSourceOptions.parse({"store": "/x", "port": "0"})
    with pytest.raises(OptionError):
        DnsSourceOptions.parse({"store": "/x", "port": "131071"})
    assert DnsSourceOptions.parse({"store": "/x", "port": "131070"}).port == 131070
    with pytest.raises(OptionError):
        DnsSourceOptions.parse({"store": "/x", "xfr": "bogus"})
    with pytest.raises(OptionError):
        DnsSourceOptions.parse({"store": "/x", "serial": "-1"})
    # case-insensitive xfr + zone CSV dedup (P5)
    o = DnsSourceOptions.parse({"store": "/x", "xfr": "AXFR",
                                "zones": "a., b. ,a.,c."})
    assert o.xfr == "axfr" and o.zones == ["a.", "b.", "c."]
    # ignore-failures effective default false (quirk, SURVEY §2.8)
    assert DnsSourceOptions.parse({"store": "/x"}).ignore_failures is False
    # admission control: default unlimited, negative rejected
    assert DnsSourceOptions.parse({"store": "/x"}).max_changes_per_batch == 0
    assert DnsSourceOptions.parse(
        {"store": "/x", "max-changes-per-batch": "7"}
    ).max_changes_per_batch == 7
    with pytest.raises(OptionError):
        DnsSourceOptions.parse({"store": "/x", "max-changes-per-batch": "-1"})


def test_non_a_records_filtered_at_transfer(store):
    """P1 — the zone file carries SOA/NS records; the transfer filters
    them so only A-records become rows (xfr/Xfr.java:76-81)."""
    import json as _json

    d = _json.load(open(store._path("example.acme.")))
    assert {r[0] for r in d["non_a_records"]} == {"SOA", "NS"}
    res = store.axfr("example.acme.")
    assert len(res.rows) == 3  # A-records only
    assert all(not f.startswith("ns1.") for _, f, _ in res.rows)


def test_bad_port_fail_and_suppress_matrix(spark, store):
    """Reference bad-port matrix (DnsSourceRelationProviderTest.java:
    86-147): wrong port refuses; ignore-failures suppresses to empty."""
    store.set_server(port=53)
    assert _read(spark, store, xfr="axfr", port="53").count() == 8
    df = _read(spark, store, xfr="axfr", port="5353")
    with pytest.raises(Exception, match="connection refused"):
        df.collect()
    assert _read(spark, store, xfr="axfr", port="5353",
                 ignore_failures="true").count() == 0


def test_timeout_fail_and_suppress_matrix(spark, store):
    """Timeout matrix: simulated RTT beyond `timeout` fails the
    transfer; larger timeout or ignore-failures recovers."""
    store.set_transfer_delay("example.acme.", 30.0)
    df = _read(spark, store, zones="example.acme.", xfr="axfr")
    with pytest.raises(Exception, match="timed out"):
        df.collect()  # default timeout 10s < 30s RTT
    assert _read(spark, store, zones="example.acme.", xfr="axfr",
                 timeout="60").count() == 3
    assert _read(spark, store, zones="example.acme.,another.zone.",
                 xfr="axfr", ignore_failures="true").count() == 5


def test_persistent_table_via_conf_fallback(spark, store):
    """Reference SQL tests use persistent CREATE TABLE ... USING dns
    (DnsSourceRelationProviderTest.java:228-241).  On Spark 4's Python
    Data Source API the catalog stores the schema but forwards EMPTY
    options to the reader — so (a) without any fallback the read fails
    with a clear, documented error (pinned here), and (b) with
    ``spark.dns.*`` session conf set the table actually WORKS
    (VERDICT-r7 item 3), making the SQL surface usable end-to-end."""
    from pyspark.errors import AnalysisException

    register_all(spark)
    spark.sql("DROP TABLE IF EXISTS dns_persistent_probe")
    spark.sql(
        "CREATE TABLE dns_persistent_probe USING dns "
        f"OPTIONS (store '{store.root}', zones 'example.acme.')"
    )
    try:
        # schema DID survive the catalog round-trip
        cols = [f.name for f in spark.table("dns_persistent_probe").schema]
        assert cols == ["action", "fqdn", "ip", "organization",
                        "timestamp", "zone"]
        # (a) options did NOT survive: pinned clear error, now pointing
        # at the conf fallback
        with pytest.raises(AnalysisException, match="missing required option: store"):
            spark.sql("SELECT * FROM dns_persistent_probe").collect()
        # (b) session-conf fallback makes the catalog table usable:
        # set spark.dns.*, re-register so the snapshot is baked into
        # the datasource class (readers are constructed in a worker
        # process with no session — see register_all's docstring)
        spark.conf.set("spark.dns.store", store.root)
        spark.conf.set("spark.dns.zones", "example.acme.")
        spark.conf.set("spark.dns.xfr", "axfr")
        register_all(spark)
        rows = spark.sql(
            "SELECT fqdn, ip FROM dns_persistent_probe ORDER BY fqdn"
        ).collect()
        assert len(rows) == 3
        assert all(r["fqdn"].endswith("example.acme.") for r in rows)
        # explicit datasource options still WIN over session conf
        direct = (
            spark.read.format("dns")
            .option("store", store.root)
            .option("zones", "another.zone.")
            .option("xfr", "axfr")
            .load()
        )
        assert direct.select("zone").distinct().collect()[0][0] == "another.zone."
    finally:
        for k in ("spark.dns.store", "spark.dns.zones", "spark.dns.xfr"):
            spark.conf.unset(k)
        register_all(spark)  # re-register with a clean (empty) snapshot
        spark.sql("DROP TABLE IF EXISTS dns_persistent_probe")


# -- zones packed into read partitions ---------------------------------


def test_pack_transfers_is_largest_first_into_least_loaded():
    t = {z: ZoneTransfer(z, 0, None, True) for z in "abcdef"}
    sizes = dict(a=10, b=7, c=5, d=4, e=3, f=1)
    lpt = pack_transfers(list(t.values()), sizes, 2)
    assert [[x.zone for x in b] for b in lpt] == [["a", "d", "f"], ["b", "c", "e"]]
    # equal sizes (the wire transport knows none): dealt in plan order
    eq = pack_transfers(list(t.values()), dict.fromkeys(t, 1), 4)
    assert [[x.zone for x in b] for b in eq] == [["a", "e"], ["b", "f"], ["c"], ["d"]]
    assert pack_transfers([], {}, 4) == []


def test_batch_plan_packs_each_zone_once_into_at_most_parallelism(tmp_path):
    s = _zipf_store(str(tmp_path / "zones"))
    opts = {"store": s.root, "xfr": "axfr"}
    reader = DnsBatchReader(opts, parallelism=4)
    parts = reader.partitions()
    assert len(parts) == 4
    assert sorted(z for b in _zones(parts) for z in b) == sorted(s.zones())
    # each bin is led by one of the four largest zones
    assert sorted(p.zone for p in parts) == [f"z{i:02d}.test." for i in range(4)]
    # the same store always packs the same way
    assert _zones(DnsBatchReader(opts, parallelism=4).partitions()) == _zones(parts)
    # fewer zones than cores: one zone per partition
    assert len(DnsBatchReader(opts, parallelism=64).partitions()) == 24
    rows = [r for p in parts for r in reader.read(p)]
    assert len(rows) == sum(len(s.axfr(z).rows) for z in s.zones())
    assert len({r[4] for r in rows}) == 1  # one planning-time timestamp


def test_zone_pushdown_prunes_before_packing(tmp_path):
    s = _zipf_store(str(tmp_path / "zones"))
    reader = DnsBatchReader({"store": s.root, "xfr": "axfr"}, parallelism=4)
    assert list(reader.pushFilters([EqualTo(("zone",), "z05.test.")])) == []
    assert _zones(reader.partitions()) == [["z05.test."]]


def test_read_plans_one_partition_per_core(spark, tmp_path):
    s = _zipf_store(str(tmp_path / "zones"))
    register_all(spark)
    df = spark.read.format("dns").option("store", s.root).option("xfr", "axfr").load()
    assert df.rdd.getNumPartitions() == min(24, spark.sparkContext.defaultParallelism)
    assert df.count() == sum(len(s.axfr(z).rows) for z in s.zones())


@pytest.mark.parametrize("fault", ["fail-zones", "missing", "timeout"])
def test_failing_zone_does_not_empty_its_partition(store, fault):
    """ignore-failures suppresses per zone: the healthy zone packed
    after a failing one in the same partition still delivers."""
    bad = "nonexistent.zone." if fault == "missing" else "example.acme."
    opts = {"store": store.root, "xfr": "axfr", "zones": f"{bad},another.zone."}
    if fault == "fail-zones":
        opts["fail-zones"] = bad
    if fault == "timeout":
        store.set_transfer_delay(bad, 30.0)
    assert len(DnsBatchReader(opts, parallelism=1).partitions()) == 1
    part = DnsZonePartition(
        transfers=(
            ZoneTransfer(bad, 0, None, True),
            ZoneTransfer("another.zone.", 0, None, True),
        ),
        batch_ts_us=0,
    )
    lenient = DnsBatchReader({**opts, "ignore-failures": "true"}, parallelism=1)
    rows = list(lenient.read(part))
    assert len(rows) == 5 and {r[5] for r in rows} == {"another.zone."}
    with pytest.raises((OSError, ZoneNotFoundError)):
        list(DnsBatchReader(opts, parallelism=1).read(part))


def test_register_all_bakes_in_parallelism_and_conf(tmp_path):
    """Readers are built in a planning worker with no session, so
    register_all carries the session's defaultParallelism (next to the
    spark.dns.* snapshot) on the registered class; re-registering
    refreshes both, and explicit options still win over the snapshot."""
    s = _zipf_store(str(tmp_path / "zones"))
    conf = {"spark.dns.store": s.root, "spark.dns.zones": "z01.test."}
    registered = []
    session = SimpleNamespace(
        conf=SimpleNamespace(get=lambda k, d=None: conf.get(k, d),
                             set=conf.__setitem__),
        sparkContext=SimpleNamespace(defaultParallelism=3),
        dataSource=SimpleNamespace(register=registered.append),
    )

    def dns_reader(options):
        cls = next(c for c in registered[::-1] if c.name() == "dns")
        return cls(options).reader(READ_SCHEMA)

    register_all(session)
    assert dns_reader({}).parallelism == 3
    assert _zones(dns_reader({}).partitions()) == [["z01.test."]]
    session.sparkContext.defaultParallelism = 2
    register_all(session)
    assert len(dns_reader({"zones": "z01.test.,z02.test.,z03.test."}).partitions()) == 2
    assert dns_reader({"zones": "z04.test."}).opts.zones == ["z04.test."]
