from spark_dns_spark.sources.dns_source import DnsDataSource  # noqa: F401
from spark_dns_spark.sources.dns_sink import DnsUpdateDataSource  # noqa: F401
from spark_dns_spark.sources.zonestore import ZoneStore  # noqa: F401


def register_all(spark) -> None:
    """Register the ``dns`` and ``dns_update`` formats on a session
    (idempotent) — the Python-API equivalent of the reference's
    META-INF/services DataSourceRegister entries
    (src/main/resources/META-INF/services/...DataSourceRegister:1-2).

    A snapshot of the session's ``spark.dns.*`` conf is baked into the
    registered classes as option DEFAULTS.  This is what makes
    persistent ``CREATE TABLE ... USING dns`` usable: Spark 4.1's
    catalog forwards EMPTY options to the reader, and the reader is
    constructed in a planning worker process where no live session
    (hence no runtime conf) exists — but a dynamically-subclassed
    datasource is cloudpickled BY VALUE at registration, carrying the
    snapshot along (options.py ``CONF_KEYS``).  Set ``spark.dns.store``
    etc. first, then call ``register_all`` (re-calling replaces the
    registration with a fresh snapshot); explicit datasource options
    always win over the snapshot.  The session's ``defaultParallelism``
    rides along the same way: the ``dns`` reader plans at most that
    many partitions.
    """
    from spark_dns_spark.sources.options import conf_snapshot

    snap = conf_snapshot(spark)
    parallelism = spark.sparkContext.defaultParallelism

    # Dynamic subclasses so cloudpickle serializes them by value,
    # shipping the conf snapshot into the planning worker; name()
    # is inherited, so the format strings stay 'dns' / 'dns_update'.
    class _ConfiguredDnsDataSource(DnsDataSource):
        _conf_defaults = snap
        _default_parallelism = parallelism

    class _ConfiguredDnsUpdateDataSource(DnsUpdateDataSource):
        _conf_defaults = snap

    spark.dataSource.register(_ConfiguredDnsDataSource)
    spark.dataSource.register(_ConfiguredDnsUpdateDataSource)
    try:
        # zone-filter pushdown needs this runtime conf (Spark 4.1)
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception:
        pass  # locked-down conf: reader falls back to full scan
