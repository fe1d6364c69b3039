"""Change-log operator queries (SURVEY.md §2.2/§2.4/§2.6/§2.8) over the
derived ``dns_changes`` feed — each with an exact DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_dns_spark.functions.dnsfn import (
    epoch_micros,
    fqdn_normalize,
    json_get,
    zone_from_fqdn,
)
from spark_dns_spark.operators import changelog as cl
from spark_dns_spark.plans.catalog import register
from spark_dns_spark.plans.feeds import DNS_CHANGES_CTE, dns_changes, load_events


@register(
    "changelog_latest_wins",
    DNS_CHANGES_CTE
    + """
SELECT action, fqdn, ip, ts, event_id FROM (
  SELECT action, fqdn, ip, ts, event_id,
         ROW_NUMBER() OVER (PARTITION BY action, fqdn, ip
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM dns_changes
) WHERE rn = 1
""",
    doc="A2 argmax dedup on the reference identity key (DnsUpdate.java:46-54)",
    tags=("changelog", "window"),
)
def changelog_latest_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = dns_changes(spark, sf_dir)
    out = cl.latest_wins(df, ["action", "fqdn", "ip"], ts_col="ts", tiebreak=["event_id"])
    return out.select("action", "fqdn", "ip", "ts", "event_id")


@register(
    "changelog_snapshot",
    DNS_CHANGES_CTE
    + """
SELECT fqdn, ip, action, ts FROM (
  SELECT fqdn, ip, action, ts,
         ROW_NUMBER() OVER (PARTITION BY fqdn, ip
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM dns_changes
) WHERE rn = 1 AND action IN ('AXFR', 'IXFR_ADD')
""",
    doc="AXFR-state materialization: apply IXFR adds/deletes over the log "
    "(xfr/DnsZoneTransferHandler.java:67-101 semantics, relationally)",
    tags=("changelog", "window", "flagship"),
)
def changelog_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = dns_changes(spark, sf_dir)
    out = cl.snapshot(df, ["fqdn", "ip"], ts_col="ts", tiebreak=["event_id"])
    return out.select("fqdn", "ip", "action", "ts")


@register(
    "changelog_max_by_variant",
    DNS_CHANGES_CTE
    + """
SELECT action, fqdn, ip,
       max(ts) AS last_ts,
       arg_max(event_id,
               CAST(epoch_us(ts) AS HUGEINT) * 17179869184 + event_id)
         AS last_event_id
FROM dns_changes
GROUP BY action, fqdn, ip
""",
    doc="A2 as an aggregation (max_by) instead of a window — partial "
    "map-side combine, no per-key sort; preferred at 100 TB",
    tags=("changelog", "agg"),
)
def changelog_max_by_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deterministic lexicographic argmax on (ts, event_id): the key is
    # epoch_us * 2^34 + event_id with non-overlapping ranges (event_id
    # < 2^34 at any plausible SF), widened to decimal/HUGEINT so the
    # product can't overflow int64 in either engine.  (A plain
    # `epoch + event_id % 1e6` mix would let a ~1s-older row with a
    # larger id win, detaching last_event_id from last_ts.)
    df = dns_changes(spark, sf_dir)
    order_key = (
        epoch_micros(F.col("ts")).cast("decimal(38,0)") * F.lit(17179869184)
        + F.col("event_id")
    )
    return df.groupBy("action", "fqdn", "ip").agg(
        F.max("ts").alias("last_ts"),
        F.max_by("event_id", order_key).alias("last_event_id"),
    )


@register(
    "fqdn_normalize",
    DNS_CHANGES_CTE
    + """
SELECT fqdn,
       CASE WHEN fqdn LIKE '%.' THEN fqdn ELSE fqdn || '.' END AS fqdn_abs,
       count(*) AS n
FROM dns_changes GROUP BY 1, 2
""",
    doc="F6 fqdn normalize (DnsPartitionHandler.java:85-94)",
    tags=("scalar",),
)
def q_fqdn_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = dns_changes(spark, sf_dir)
    return (
        df.select("fqdn", fqdn_normalize("fqdn").alias("fqdn_abs"))
        .groupBy("fqdn", "fqdn_abs")
        .agg(F.count("*").alias("n"))
    )


@register(
    "zone_from_fqdn",
    DNS_CHANGES_CTE
    + """
SELECT fqdn, zone, count(*) AS n FROM (
  SELECT fqdn,
         CASE WHEN z LIKE '%.' THEN z ELSE z || '.' END AS zone
  FROM (
    SELECT fqdn,
           regexp_replace(
             CASE WHEN fqdn LIKE '%.' THEN fqdn ELSE fqdn || '.' END,
             '^[^.]+\\.', '') AS z
    FROM dns_changes
  )
) GROUP BY 1, 2
""",
    doc="F5 zone derivation (DnsPartitionHandler.java:52-62)",
    tags=("scalar",),
)
def q_zone_from_fqdn(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = dns_changes(spark, sf_dir)
    return (
        df.select("fqdn", zone_from_fqdn("fqdn").alias("zone"))
        .groupBy("fqdn", "zone")
        .agg(F.count("*").alias("n"))
    )


@register(
    "group_by_zone",
    DNS_CHANGES_CTE
    + """
SELECT zone, action, count(*) AS n_updates, count(DISTINCT fqdn) AS n_fqdns
FROM (
  SELECT action, fqdn,
         CASE WHEN z LIKE '%.' THEN z ELSE z || '.' END AS zone
  FROM (
    SELECT action, fqdn,
           regexp_replace(
             CASE WHEN fqdn LIKE '%.' THEN fqdn ELSE fqdn || '.' END,
             '^[^.]+\\.', '') AS z
    FROM dns_changes
  )
)
GROUP BY zone, action
""",
    doc="A1 group-updates-by-zone (DnsPartitionHandler.java:30-44), made "
    "global instead of per-partition",
    tags=("changelog", "agg"),
)
def q_group_by_zone(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = cl.group_updates_by_zone(dns_changes(spark, sf_dir))
    return df.groupBy("zone", "action").agg(
        F.count("*").alias("n_updates"),
        F.countDistinct("fqdn").alias("n_fqdns"),
    )


@register(
    "validate_updates",
    DNS_CHANGES_CTE
    + """
SELECT violation, count(*) AS n FROM (
  SELECT CASE
    WHEN ip IS NULL OR trim(ip) = '' THEN 'empty ip'
    WHEN fqdn IS NULL OR trim(fqdn) = '' THEN 'empty fqdn'
    WHEN action IS NULL THEN 'null action'
    WHEN ts IS NULL THEN 'null timestamp'
    WHEN CAST(event_id % 7 AS INTEGER) - 3 <= 0 THEN 'non-positive ttl'
    ELSE NULL END AS violation
  FROM dns_changes
) GROUP BY violation
""",
    doc="P4 validation predicates (DnsPartitionHandler.java:69-77); ttl "
    "synthesized as event_id%7-3 to exercise the <=0 branch",
    tags=("changelog", "filter"),
)
def q_validate_updates(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = dns_changes(spark, sf_dir).withColumn(
        "ttl", (F.col("event_id") % 7).cast("int") - 3
    )
    out = cl.validate_updates(df, ts_col="ts")
    return out.groupBy("violation").agg(F.count("*").alias("n"))


@register(
    "json_extract",
    """
SELECT k, count(*) AS n, round(sum(value), 3) AS sum_value
FROM (
  SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, value
  FROM events
) GROUP BY k
""",
    doc="F4 JSON decode (DnsBatchPartitionHandler.java:47-51) as "
    "get_json_object — JVM-side, no Python",
    tags=("scalar", "json"),
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    return (
        ev.select(json_get("props", "k").cast("bigint").alias("k"), "value")
        .groupBy("k")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 3).alias("sum_value"))
    )


@register(
    "json_roundtrip",
    DNS_CHANGES_CTE
    + """
SELECT action2 AS action, fqdn2 AS fqdn, count(*) AS n FROM (
  SELECT json_extract_string(j, '$.action') AS action2,
         json_extract_string(j, '$.fqdn') AS fqdn2
  FROM (
    SELECT to_json(struct_pack(action := action, fqdn := fqdn)) AS j
    FROM dns_changes
  )
) GROUP BY 1, 2
""",
    doc="F3+F4 sink wire-encoding round-trip: to_json(struct(*)) then decode "
    "(DnsSinkRelationProvider.java:25-27)",
    tags=("scalar", "json"),
)
def q_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_dns_spark.functions.dnsfn import encode_update_json

    df = dns_changes(spark, sf_dir).select(
        encode_update_json("action", "fqdn").alias("j")
    )
    return (
        df.select(
            json_get("j", "action").alias("action"),
            json_get("j", "fqdn").alias("fqdn"),
        )
        .groupBy("action", "fqdn")
        .agg(F.count("*").alias("n"))
    )


@register(
    "distinct_zones",
    DNS_CHANGES_CTE
    + """
SELECT DISTINCT
  CASE WHEN z LIKE '%.' THEN z ELSE z || '.' END AS zone
FROM (
  SELECT regexp_replace(
           CASE WHEN fqdn LIKE '%.' THEN fqdn ELSE fqdn || '.' END,
           '^[^.]+\\.', '') AS z
  FROM dns_changes
)
""",
    doc="P5 distinct zone list (DnsSourceOptions.java:61-65)",
    tags=("set",),
)
def q_distinct_zones(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = dns_changes(spark, sf_dir)
    return df.select(zone_from_fqdn("fqdn").alias("zone")).distinct()


@register(
    "zone_serial_max",
    DNS_CHANGES_CTE
    + """
SELECT zone, max(event_id) AS serial, count(*) AS n_changes
FROM (
  SELECT event_id,
         CASE WHEN z LIKE '%.' THEN z ELSE z || '.' END AS zone
  FROM (
    SELECT event_id,
           regexp_replace(
             CASE WHEN fqdn LIKE '%.' THEN fqdn ELSE fqdn || '.' END,
             '^[^.]+\\.', '') AS z
    FROM dns_changes
  )
)
GROUP BY zone
""",
    doc="A3 max-merge zone-serial accumulator (ZoneVersion.java:43-47) as "
    "max() aggregation",
    tags=("agg",),
)
def q_zone_serial_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = cl.group_updates_by_zone(dns_changes(spark, sf_dir))
    return df.groupBy("zone").agg(
        F.max("event_id").alias("serial"), F.count("*").alias("n_changes")
    )


@register(
    "exactly_once_check",
    DNS_CHANGES_CTE
    + """
SELECT action, fqdn, ip, organization, ts, count(*) AS n
FROM dns_changes
GROUP BY action, fqdn, ip, organization, ts
HAVING count(*) > 1
""",
    doc="A4 exactly-once assertion shape "
    "(DnsSourceRelationProviderTest.java:214-225): duplicate groups",
    tags=("agg", "test-shape"),
)
def q_exactly_once_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = dns_changes(spark, sf_dir)
    return (
        df.groupBy("action", "fqdn", "ip", "organization", "ts")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
    )


@register(
    "chronological_topk",
    DNS_CHANGES_CTE
    + """
SELECT action, fqdn, ip, ts, event_id
FROM dns_changes
ORDER BY ts DESC, event_id DESC
LIMIT 100
""",
    doc="O1 chronological ordering (DnsChronologicalChange.java:10-17) as "
    "top-k with deterministic tie-break",
    tags=("sort", "limit"),
)
def q_chronological_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = dns_changes(spark, sf_dir)
    return (
        df.select("action", "fqdn", "ip", "ts", "event_id")
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .limit(100)
    )


@register(
    "dns_typosquat_levenshtein",
    DNS_CHANGES_CTE
    + """
SELECT a.zone AS zone_a, b.zone AS zone_b,
       levenshtein(a.zone, b.zone) AS dist
FROM (SELECT DISTINCT CASE WHEN z LIKE '%.' THEN z ELSE z || '.' END AS zone
      FROM (SELECT regexp_replace(
              CASE WHEN fqdn LIKE '%.' THEN fqdn ELSE fqdn || '.' END,
              '^[^.]+\\.', '') AS z FROM dns_changes)) a
JOIN (SELECT DISTINCT CASE WHEN z LIKE '%.' THEN z ELSE z || '.' END AS zone
      FROM (SELECT regexp_replace(
              CASE WHEN fqdn LIKE '%.' THEN fqdn ELSE fqdn || '.' END,
              '^[^.]+\\.', '') AS z FROM dns_changes)) b
  ON a.zone < b.zone
WHERE levenshtein(a.zone, b.zone) <= 2
""",
    doc="typosquat detection: zone pairs within Levenshtein distance 2 "
    "— the classic DNS-abuse analytic; the distinct-zone self-join is "
    "tiny (zones, not fqdns), so all-pairs is the right plan here",
    tags=("changelog", "scalar", "dns"),
)
def dns_typosquat_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    zones = (
        dns_changes(spark, sf_dir)
        .select(zone_from_fqdn("fqdn").alias("zone"))
        .distinct()
    )
    a = zones.select(F.col("zone").alias("zone_a"))
    b = zones.select(F.col("zone").alias("zone_b"))
    return (
        a.join(b, F.col("zone_a") < F.col("zone_b"))
        .withColumn("dist", F.levenshtein("zone_a", "zone_b"))
        .filter(F.col("dist") <= 2)
    )


@register(
    "dns_typosquat_blocked",
    DNS_CHANGES_CTE
    + """
, zones AS (
  SELECT DISTINCT CASE WHEN z LIKE '%.' THEN z ELSE z || '.' END AS zone
  FROM (SELECT regexp_replace(
          CASE WHEN fqdn LIKE '%.' THEN fqdn ELSE fqdn || '.' END,
          '^[^.]+\\.', '') AS z FROM dns_changes)
), parts AS (
  SELECT zone,
         string_split(zone, '.')[1] AS sll,
         substr(zone, length(string_split(zone, '.')[1]) + 2) AS tld,
         length(string_split(zone, '.')[1]) AS l
  FROM zones
), affixes AS (
  SELECT zone, l, tld, 'p' AS tag, substr(sll, 1, 2) AS affix FROM parts
  UNION ALL
  SELECT zone, l, tld, 's' AS tag,
         substr(sll, greatest(l - 1, 1), 2) AS affix FROM parts
), probe AS (
  SELECT zone, l + dl AS lk, tld, tag, affix
  FROM affixes, (SELECT unnest(generate_series(-2, 2)) AS dl)
)
SELECT DISTINCT a.zone AS zone_a, b.zone AS zone_b,
       levenshtein(a.zone, b.zone) AS dist
FROM affixes a JOIN probe b
  ON a.tag = b.tag AND a.affix = b.affix AND a.tld = b.tld AND a.l = b.lk
 AND a.zone < b.zone
WHERE levenshtein(a.zone, b.zone) <= 2
""",
    doc="typosquat detection with 100x-safe blocking: each zone's "
    "second-level label emits (prefix-2, tld, len) and (suffix-2, tld, "
    "len) index keys plus probe keys over len±2, so candidates come from "
    "an EQUI-join on (tag, affix, tld, len) and levenshtein only verifies "
    "bucket-mates — never all-pairs (millions of zones => 10^12 pairs in "
    "the all-pairs form).  Precision-oriented recall: a pair editing BOTH "
    "the first two and last two label chars is missed, the same banding "
    "tradeoff as dedup_simhash; the all-pairs sibling query remains the "
    "exact baseline",
    tags=("changelog", "scalar", "dns", "blocking"),
)
def dns_typosquat_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    # persist: the distinct-zone build scans the whole change feed, and
    # the blocking fans out to index + probe sides of the self-join —
    # without the cache the feed scan runs once per branch.
    zones = (
        dns_changes(spark, sf_dir)
        .select(zone_from_fqdn("fqdn").alias("zone"))
        .distinct()
        .persist()
    )
    sll = F.substring_index("zone", ".", 1)
    parts = zones.select(
        "zone",
        sll.alias("sll"),
        F.expr(
            "substring(zone, length(substring_index(zone, '.', 1)) + 2)"
        ).alias("tld"),
        F.length(sll).alias("l"),
    )
    affixes = parts.select(
        "zone",
        "l",
        "tld",
        F.explode(
            F.array(
                F.struct(
                    F.lit("p").alias("tag"),
                    F.substring("sll", 1, 2).alias("affix"),
                ),
                F.struct(
                    F.lit("s").alias("tag"),
                    F.col("sll")
                    .substr(F.greatest(F.col("l") - 1, F.lit(1)), F.lit(2))
                    .alias("affix"),
                ),
            )
        ).alias("k"),
    ).select("zone", "l", "tld", F.col("k.tag").alias("tag"), F.col("k.affix").alias("affix"))
    probe = affixes.select(
        "zone",
        "tld",
        "tag",
        "affix",
        F.explode(F.array(*[F.lit(d) for d in range(-2, 3)])).alias("dl"),
        "l",
    ).select(
        F.col("zone").alias("zone_b"),
        (F.col("l") + F.col("dl")).alias("lk"),
        F.col("tld").alias("tld_b"),
        F.col("tag").alias("tag_b"),
        F.col("affix").alias("affix_b"),
    )
    return (
        affixes.join(
            probe,
            (F.col("tag") == F.col("tag_b"))
            & (F.col("affix") == F.col("affix_b"))
            & (F.col("tld") == F.col("tld_b"))
            & (F.col("l") == F.col("lk"))
            & (F.col("zone") < F.col("zone_b")),
        )
        .select(
            F.col("zone").alias("zone_a"),
            "zone_b",
            F.levenshtein(F.col("zone"), F.col("zone_b")).alias("dist"),
        )
        .filter(F.col("dist") <= 2)
        .distinct()
    )
