"""Sessionization over ``events`` (SURVEY.md §7.1 M5) — 30-minute
inactivity gap, two formulations:

- ``sessionize_events`` — gap-and-island via lag + running sum; the
  portable formulation with an exact DuckDB oracle (identical window
  semantics in both engines).
- ``sessionize_window_native`` — Spark's built-in ``F.session_window``
  (the Structured-Streaming-compatible operator); oracle mirrors its
  semantics (session end = last event + gap, new session when the next
  event lands on/after the previous window's exclusive end).

Scale shape: one hash shuffle on ``user_id`` for the window/groupBy;
sessions never cross users, so there is no global ordering and skewed
users are split by AQE.  The same ``session_window`` expression runs
unchanged under ``readStream`` + watermark for the streaming case.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_dns_spark.functions.dnsfn import epoch_micros
from spark_dns_spark.plans.catalog import register
from spark_dns_spark.plans.feeds import load_events

GAP_MIN = 30


@register(
    "sessionize_events",
    f"""
WITH lagged AS (
  SELECT event_id, ts, user_id, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
), flagged AS (
  SELECT *, CASE WHEN prev_ts IS NULL
                   OR ts > prev_ts + INTERVAL {GAP_MIN} MINUTE
                 THEN 1 ELSE 0 END AS new_s
  FROM lagged
), sess AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING)::BIGINT AS session_id
  FROM flagged
)
SELECT user_id, session_id,
       min(ts) AS session_start,
       max(ts) AS session_end,
       epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us,
       count(*) AS n_events,
       sum(CAST(floor(value * 1000 + 0.5) AS BIGINT))::BIGINT AS value_milli
FROM sess GROUP BY user_id, session_id
""",
    doc="gap-and-island sessionization (30-min inactivity gap): lag + "
    "running-sum session ids, then per-session rollup",
    tags=("sessions", "window", "bench"),
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir).select("event_id", "ts", "user_id", "value")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = GAP_MIN * 60 * 1_000_000
    prev = F.lag("ts").over(w)
    new_s = F.when(
        prev.isNull()
        | (epoch_micros(F.col("ts")) > epoch_micros(prev) + gap_us),
        F.lit(1),
    ).otherwise(F.lit(0))
    sess = ev.withColumn(
        "session_id",
        F.sum(new_s).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        (epoch_micros(F.max("ts")) - epoch_micros(F.min("ts"))).alias(
            "duration_us"
        ),
        F.count("*").alias("n_events"),
        # integer-exact checksum: round each value to milli-units BEFORE
        # summing so cross-engine float-summation order can't move the
        # aggregate (a rounded double sum is NOT order-proof — VERDICT r2).
        F.sum(F.floor(F.col("value") * 1000 + F.lit(0.5)).cast("long")).alias(
            "value_milli"
        ),
    )


@register(
    "sessionize_window_native",
    f"""
WITH lagged AS (
  SELECT ts, user_id, event_id,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
), flagged AS (
  SELECT *, CASE WHEN prev_ts IS NULL
                   OR ts >= prev_ts + INTERVAL {GAP_MIN} MINUTE
                 THEN 1 ELSE 0 END AS new_s
  FROM lagged
), sess AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id,
       min(ts) AS w_start,
       max(ts) + INTERVAL {GAP_MIN} MINUTE AS w_end,
       count(*) AS n_events
FROM sess GROUP BY user_id, sid
""",
    doc="F.session_window sessionization — the Structured-Streaming "
    "operator run in batch; window end = last event + gap, boundary "
    "event at exactly prev+gap starts a new session (exclusive end)",
    tags=("sessions", "window"),
)
def sessionize_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir).select("ts", "user_id")
    out = ev.groupBy(
        F.session_window("ts", f"{GAP_MIN} minutes"), "user_id"
    ).agg(F.count("*").alias("n_events"))
    return out.select(
        "user_id",
        F.col("session_window.start").alias("w_start"),
        F.col("session_window.end").alias("w_end"),
        "n_events",
    )


@register(
    "sessionize_stream_stateful",
    f"""
WITH lagged AS (
  SELECT event_id, ts, user_id, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
), flagged AS (
  SELECT *, CASE WHEN prev_ts IS NULL
                   OR ts > prev_ts + INTERVAL {GAP_MIN} MINUTE
                 THEN 1 ELSE 0 END AS new_s
  FROM lagged
), sess AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
), agg AS (
  SELECT user_id, sid,
         min(ts) AS session_start, max(ts) AS session_end,
         count(*) AS n_events, round(sum(value), 3) AS sum_value
  FROM sess GROUP BY user_id, sid
)
SELECT user_id, session_start, session_end, n_events, sum_value
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY sid DESC) AS rn FROM agg)
WHERE rn > 1
   OR (epoch_us(session_end)//1000 + {GAP_MIN} * 60000)
      < (SELECT epoch_us(max(ts))//1000 FROM events)
""",
    doc="custom stateful streaming operator: applyInPandasWithState "
    "sessionization over a file-streamed events feed (availableNow). "
    "Emitted = every gap-closed session PLUS sessions closed by the "
    "event-time timeout when the final no-data micro-batch advances the "
    "watermark to max(ts); only final sessions still inside the gap "
    "stay open in state.  The oracle mirrors both rules (ms-truncated "
    "timeout arithmetic, like Spark's watermark)",
    tags=("sessions", "streaming", "stateful"),
)
def sessionize_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from spark_dns_spark.streaming.stateful import sessionize_stream

    from spark_dns_spark.plans.feeds import (
        await_or_fail,
        legacy_parquet_nanos,
        normalize_ts,
        scratch_dir,
    )

    out_root = scratch_dir("sessionize_stream_")
    # the streaming file source wants a directory; stage the single
    # events file behind a symlink
    src_dir = os.path.join(out_root, "src")
    os.makedirs(src_dir)
    os.symlink(
        os.path.join(sf_dir, "events.parquet"),
        os.path.join(src_dir, "events.parquet"),
    )
    # derive the stream schema from the SAME batch scan every other
    # catalog query sees, then normalize ts identically to the batch
    # feed — so a regenerated-testdata type shift (nanos → micros →
    # NTZ) can never desynchronize this path again (r5: a hard-coded
    # `ts long` schema read the micros-typed rewrite as zero rows).
    out = os.path.join(out_root, "out")
    with legacy_parquet_nanos(spark):
        physical = spark.read.parquet(src_dir).schema
        src = normalize_ts(
            spark.readStream.schema(physical).parquet(src_dir)
        ).select("ts", "user_id", "value")
        q = (
            sessionize_stream(src, gap_min=GAP_MIN)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", os.path.join(out_root, ".ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        await_or_fail(q, 300)
    df = spark.read.parquet(out)
    return df.withColumn("sum_value", F.round("sum_value", 3))


@register(
    "tumbling_window_counts",
    """
SELECT date_trunc('hour', ts) AS w_start, event_type,
       count(*) AS n, round(sum(value), 3) AS sum_value
FROM events GROUP BY 1, 2
""",
    doc="tumbling event-time windows (1h) per event type — the same "
    "F.window expression runs unchanged under readStream + watermark "
    "(late-data behavior covered in tests/test_streaming_window.py)",
    tags=("sessions", "window"),
)
def tumbling_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir).select("ts", "event_type", "value")
    out = ev.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 3).alias("sum_value"),
    )
    return out.select(
        F.col("window.start").alias("w_start"), "event_type", "n", "sum_value"
    )


#: Synthetic session length for the sweep-line concurrency analysis.
SESSION_SECS = 300


@register(
    "sessions_peak_concurrency",
    f"""
WITH pts AS (
  SELECT ts AS t, 1 AS d FROM events
  UNION ALL
  SELECT ts + INTERVAL {SESSION_SECS} SECOND, -1 FROM events
), hrs AS (
  -- zero-delta sample at each present hour's boundary: an hour whose
  -- only endpoints are closes still reports the carried-in concurrency
  SELECT DISTINCT date_trunc('hour', t) AS t, 0 AS d FROM pts
), net AS (
  SELECT t, sum(d)::BIGINT AS net
  FROM (SELECT t, d FROM pts UNION ALL SELECT t, d FROM hrs)
  GROUP BY t
), run AS (
  SELECT t, (sum(net) OVER (ORDER BY t
     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS conc
  FROM net
)
SELECT date_trunc('hour', t) AS hr, max(conc)::BIGINT AS peak
FROM run GROUP BY hr
""",
    doc=f"peak concurrent sessions per hour (each event opens a "
    f"{SESSION_SECS}s session): the classic SWEEP LINE — +1/-1 "
    "endpoints, running sum, max per bucket.  The oracle's global "
    "ORDER BY window is the semantic spec; the Spark plan is the "
    "two-level distributed prefix sum from pack_tokens_stream — "
    "same-instant endpoints collapse first (groupBy t), within-hour "
    "cumsum windows run fully parallel, and the only global window "
    "runs over the hour-totals relation (rows ~ time span, not data "
    "volume) before broadcasting back",
    tags=("sessions", "window", "packing"),
)
def sessions_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir).select("ts")
    pts = ev.select(F.col("ts").alias("t"), F.lit(1).alias("d")).unionAll(
        ev.select(
            (F.col("ts") + F.expr(f"INTERVAL {SESSION_SECS} SECONDS")).alias(
                "t"
            ),
            F.lit(-1).alias("d"),
        )
    )
    # zero-delta sample at each present hour's boundary (see oracle)
    hrs = (
        pts.select(F.date_trunc("hour", F.col("t")).alias("t"))
        .distinct()
        .withColumn("d", F.lit(0))
    )
    net = pts.unionAll(hrs).groupBy("t").agg(F.sum("d").alias("net"))
    b = net.withColumn("hr", F.date_trunc("hour", F.col("t")))
    w_in = (
        Window.partitionBy("hr")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = b.withColumn("within", F.sum("net").over(w_in))
    w_pre = Window.orderBy("hr").rowsBetween(Window.unboundedPreceding, -1)
    prefix = (
        b.groupBy("hr")
        .agg(F.sum("net").alias("tot"))
        .withColumn("prefix", F.coalesce(F.sum("tot").over(w_pre), F.lit(0)))
        .select("hr", "prefix")
    )
    return (
        within.join(F.broadcast(prefix), "hr")
        .select("hr", (F.col("prefix") + F.col("within")).alias("conc"))
        .groupBy("hr")
        .agg(F.max("conc").alias("peak"))
    )
