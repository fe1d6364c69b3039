"""Change-log (CDC-style) relational operators — SURVEY.md §2.4/§2.2.

The reference models DNS zone data as an action-tagged change feed
(``AXFR`` snapshot rows, ``IXFR_ADD``/``IXFR_DELETE`` deltas) and applies
imperative per-partition dedup/grouping before shipping updates.  Here
the same semantics are DataFrame operators that work on *any*
action-tagged log — shuffle-aware and global, which fixes the
reference's documented per-partition-only dedup (SURVEY.md §4 "Shuffle"
row; README.md:119-121 contract is "most recent timestamp wins").

Scale notes (100 TB): every operator is one hash-shuffle on the
identity key at most; `latest_wins` uses `max_by`-style aggregation
(partial map-side combine) instead of a window sort where possible, so
skewed keys cost one AQE-splittable exchange, not a full sort.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from spark_dns_spark.functions.dnsfn import fqdn_normalize, zone_from_fqdn

#: Action vocabulary — dao/DnsAction.java:3-7.
ACTION_SNAPSHOT = "AXFR"
ACTION_ADD = "IXFR_ADD"
ACTION_DELETE = "IXFR_DELETE"
ADD_ACTIONS = (ACTION_SNAPSHOT, ACTION_ADD)


def latest_wins(
    df: DataFrame,
    key: Sequence[str],
    ts_col: str = "timestamp",
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """A2 — per identity key keep only the newest row by ``ts_col``
    (spark/write/DnsUpdate.java:46-54 via DnsChronologicalChange.java:10-17).

    Implemented as ``row_number() OVER (PARTITION BY key ORDER BY ts
    DESC, tiebreak DESC) = 1`` — one shuffle on ``key``; rank, not
    global sort.  ``tiebreak`` columns make the argmax deterministic
    when timestamps collide (the reference's maxBy is last-seen-wins,
    i.e. nondeterministic under ties; we pin it down).
    """
    order = [F.col(ts_col).desc()] + [F.col(c).desc() for c in tiebreak]
    w = Window.partitionBy(*key).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def snapshot(
    df: DataFrame,
    key: Sequence[str],
    action_col: str = "action",
    ts_col: str = "timestamp",
    tiebreak: Sequence[str] = (),
    add_actions: Sequence[str] = ADD_ACTIONS,
) -> DataFrame:
    """Materialize current state from a change log: per key, the latest
    action wins; keys whose latest action is a delete drop out.

    This is the AXFR-state semantics of applying IXFR add/delete runs
    (xfr/DnsZoneTransferHandler.java:67-101) expressed relationally:
    argmax per key + filter on the surviving action.  One shuffle.
    """
    latest = latest_wins(df, key, ts_col=ts_col, tiebreak=tiebreak)
    return latest.filter(F.col(action_col).isin(list(add_actions)))


def group_updates_by_zone(df: DataFrame, fqdn_col: str = "fqdn") -> DataFrame:
    """A1 — tag every update row with its zone derived from the fqdn
    (strip first label, force trailing dot —
    spark/write/DnsPartitionHandler.java:30-62).

    The reference groups within a partition only; tagging the column and
    letting the caller ``groupBy("zone")`` (or ``repartition("zone")``
    before a partition-local writer) makes the same semantics global.
    """
    return df.withColumn("zone", zone_from_fqdn(fqdn_col))


def normalize_updates(df: DataFrame, fqdn_col: str = "fqdn") -> DataFrame:
    """F1+F6 — lower-case + make absolute, the reference's ingest/sink
    normalization pipeline."""
    return df.withColumn(fqdn_col, fqdn_normalize(F.lower(F.col(fqdn_col))))


def validate_updates(
    df: DataFrame,
    fqdn_col: str = "fqdn",
    ip_col: str = "ip",
    action_col: str = "action",
    ts_col: str = "timestamp",
    ttl_col: str | None = "ttl",
) -> DataFrame:
    """P4 — annotate each row with its first validation failure (or null).

    Mirrors spark/write/DnsPartitionHandler.java:69-77 which *throws* on
    the first invalid row; a relational engine flags instead so callers
    can fail, filter, or quarantine.  ``df.filter(col("violation").
    isNotNull())`` + ``raise`` reproduces reference behavior exactly.
    """
    checks = [
        ((F.col(ip_col).isNull()) | (F.trim(F.col(ip_col)) == ""), "empty ip"),
        ((F.col(fqdn_col).isNull()) | (F.trim(F.col(fqdn_col)) == ""), "empty fqdn"),
        (F.col(action_col).isNull(), "null action"),
        (F.col(ts_col).isNull(), "null timestamp"),
    ]
    if ttl_col is not None:
        checks.append((F.col(ttl_col) <= 0, "non-positive ttl"))
    expr = F.lit(None).cast("string")
    for cond, msg in reversed(checks):
        expr = F.when(cond, F.lit(msg)).otherwise(expr)
    return df.withColumn("violation", expr)


def dedup_updates_for_send(
    df: DataFrame,
    ts_col: str = "timestamp",
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """The DataFrame form of the sink's latest-wins, which tests and the
    benchmark replay compare against (``send_updates`` does not run it):
    normalize fqdn, derive zone, then latest-wins dedup on the
    reference's identity key ``(action, fqdn, ip)`` (dao/DnsRecord.java:10-20).
    """
    out = group_updates_by_zone(normalize_updates(df))
    return latest_wins(out, ["action", "fqdn", "ip"], ts_col=ts_col, tiebreak=tiebreak)
