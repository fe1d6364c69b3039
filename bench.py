"""Benchmark harness — runs the headline catalog queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:
``{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}``.

Each query is timed end-to-end with a CONSUMING action: every output
column feeds an ``xxhash64`` that is summed on the driver, so Catalyst
cannot prune deterministic projections the way it can under a bare
``count()`` — map-only expression pipelines are actually measured
(VERDICT r2 item 6), while wide results still never reach the driver.
"""

from __future__ import annotations

import json
import os

# Keep the gate breadcrumb trail (.gate_trace.jsonl) for EXTERNAL
# driver runs only (must be set before __spark_entry__ import).
import os as _os_trace
_os_trace.environ.setdefault("SPARK_GRAFT_TRACE", "0")

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import functions as F  # noqa: E402

from spark_dns_spark.session import get_session, release_all_caches  # noqa: E402

#: Headline set: the flagship change-log pipeline + the shuffle-heavy
#: relational queries + (as they land) the north-star pipeline ops.
HEADLINE = [
    "changelog_latest_wins",
    "changelog_snapshot",
    "changelog_max_by_variant",
    "group_by_zone",
    "tpch_q1_pricing_summary",
    "revenue_by_nation",
    "top_customers_per_nation",
    "lineitem_running_window",
    "dedup_exact_documents",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "similarity_topk_bruteforce",
    "similarity_topk_lsh",
    "text_quality_score",
    "sessionize_events",
    "multimodal_decode_features",
    "asof_join_last_error",
    "pipeline_curate_corpus",
    "hypertable_rollup",
    # round-3 tier
    "dns_typosquat_blocked",
    "text_pii_redact",
    "text_repetition_filter",
    "contamination_ngram_overlap",
    "domain_mix_rebalance",
    "dedup_embedding_cosine",
    "tfidf_top_terms",
    "events_user_zscore",
    # round-6 tier (BASELINE.md: totals across rounds compare the
    # 27-query prefix; these three are new in r6)
    "pack_tokens_stream",
    "pack_greedy_bins",
    "kmeans_lloyd_cells",
    "graph_pagerank_transitions",
    # round-6 continuation-3 tier (31 → 38; BASELINE.md: cross-round
    # totals compare the 27- and 31-query prefixes)
    "events_gap_fill_ffill",
    "events_ohlc_bars",
    "index_inverted_postings",
    "heavy_hitters_events",
    "events_mad_outliers",
    "validate_quality_constraints",
    "changelog_scd2_intervals",
    # round-6 continuation-5 tier (38 → 44)
    "dedup_sorted_neighborhood",
    "vocab_bpe_merges",
    "cooccurrence_glove_window",
    "events_funnel_conversion",
    "basket_copurchase_lift",
    "events_value_histogram",
    # round-6 continuation-7+ tier (44 -> 49; streaming catalog queries
    # stay out of the bench — they time file staging, not the engine)
    "multimodal_resize_nn",
    "ivm_agg_delta",
    "events_equidepth_quartiles",
    "events_quantile_normalize",
    "dedup_snm_span_clusters",
    "events_cusum_drift",
    # round-7 tier (50 -> 54; BASELINE.md: cross-round totals compare
    # the 27/31/38/44/49/50-query prefixes)
    "dedup_exact_substring",
    "vocab_bpe_apply",
    "mlprep_leakage_free_split",
    "dns_ip_cidr_attribution",
    # round-8 tier (54 -> 56): the incremental-dedup probe and the
    # stored-index IVF serve path (prefix comparisons vs prior rounds
    # still use the 27/31/38/44/49/50/54 boundaries)
    "dedup_minhash_incremental",
    "similarity_topk_ivf",
    # round-8 continuation tier: BM25 retrieval + PQ codes
    # + the two-stage PQ-ADC serve/recall + the bigram-LM scorer
    # (56 -> 60)
    "index_bm25_topk",
    "similarity_pq_codes",
    "similarity_pq_adc_recall",
    "quality_lm_bigram_score",
    # round-9 tier (60 -> 62): the composed IVF-PQ serve and the
    # 10x-query-density BM25 tier (prefix comparisons vs prior rounds
    # use the 27/31/38/44/49/50/54/56/60 boundaries)
    "similarity_topk_ivfpq",
    "index_bm25_dense",
    # round-9 continuation tier (62 -> 67): the incremental index
    # maintenance family (IVF/PQ upserts + the retrain-trigger metric)
    # and the composed-serve recall gate (prefix comparisons vs prior
    # rounds use the 27/31/38/44/49/50/54/56/60/62 boundaries)
    "similarity_ivf_upsert",
    "similarity_pq_upsert",
    "similarity_pq_drift",
    "similarity_ivfpq_recall",
    "index_postings_upsert",
    # round-9 continuation-2 tier (67 -> 82): the TPC-H breadth pack II
    # (integer-e4 revenue convention), the count-min sketch, the
    # CCNet-style boilerplate detect + clean pair, URL-canonicalization
    # dedup, the bloom-filter decontamination sketch, and the langid
    # confusion-matrix metric (prefix comparisons vs prior rounds use
    # the 27/.../62/67 boundaries)
    "tpch_q5_local_supplier_volume",
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "tpch_q10_returned_items",
    "tpch_q14_promo_revenue",
    "tpch_q17_small_quantity_revenue",
    "tpch_q19_disjunctive_revenue",
    "sketch_countmin_freq",
    "curation_boilerplate_fraction",
    "dedup_url_canonical",
    "contamination_bloom_filter",
    "curation_boilerplate_clean",
    "text_langid_confusion",
    "multimodal_phash_neardup",
    "similarity_range_ivf",
    "similarity_range_recall",
    # round-10 tier
    "similarity_ivf_cell_balance",
    "similarity_topk_filtered",
    "similarity_filtered_recall",
    "similarity_ivf_cell_split",
    # round-11 tier (87 -> 94): the last TPC-H join shapes (derived
    # shipping columns / partsupp — q_tpch2 header note), the cell
    # maintenance fixpoint pair, and the rare-label filtered tier
    "tpch_q12_shipmode_priority",
    "tpch_q16_supplier_part_counts",
    "tpch_q21_waiting_suppliers",
    "similarity_ivf_cell_split_fixpoint",
    "similarity_ivf_upsert_rebalance",
    "similarity_topk_filtered_rare",
    "similarity_filtered_rare_recall",
    # round-11 continuation (94 -> 100): the partsupp-economics queries
    # completing all 22 TPC-H shapes, then the retrieval post-processing
    # pair (hybrid RRF fusion, MMR diversity re-rank)
    "tpch_q2_min_cost_supplier",
    "tpch_q9_product_type_profit",
    "tpch_q11_important_stock",
    "tpch_q20_potential_promotion",
    "similarity_hybrid_rrf",
    "retrieval_mmr_rerank",
    "dedup_cluster_label_propagation",
    # round-12 tier (101 -> 106): the filtered IVF-PQ pair, the
    # upserted-index serve-freshness proof, the fused filtered RAG
    # pipeline, and the SemDeDup semantic-dedup family
    "similarity_topk_filtered_ivfpq",
    "similarity_filtered_ivfpq_recall",
    "similarity_upsert_serve_fresh",
    "retrieval_filtered_fused_mmr",
    "dedup_semantic_semdedup",
    # round-12 continuation (106 -> 108): incremental SemDeDup (the
    # new-batch-vs-stored-index crawl shape) and the delete half of
    # index maintenance (tombstone anti-join serve)
    "dedup_semantic_incremental",
    "similarity_ivf_delete_serve",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    spark = get_session("bench")
    # Warm shared engine machinery on TINY inputs so the first headline
    # query doesn't absorb one-time costs that belong to the session,
    # not the query: JVM/codegen JIT for join+window+agg pipelines,
    # parquet footer reads, and the Python/Arrow worker pool fork
    # (32 workers).  Every headline query is still timed end-to-end
    # cold-plan (nothing below caches any headline input).
    from pyspark.sql import Window

    region = spark.read.parquet(os.path.join(sf_dir, "region.parquet"))
    nation = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    w = Window.partitionBy("n_regionkey").orderBy("n_nationkey")
    (
        nation.join(
            F.broadcast(region),
            nation.n_regionkey == region.r_regionkey,
        )
        .withColumn("rn", F.row_number().over(w))
        .groupBy("r_name")
        .agg(F.sum("rn").alias("s"))
        .select(F.bit_xor(F.xxhash64("r_name", "s")))
        .collect()
    )

    @F.pandas_udf("long")
    def _warm(x):
        return x

    spark.range(256).repartition(32).select(_warm("id")).count()

    calib = _calibrate(spark)
    print(f"# calib {calib['version']}: {calib['sec']}s "
          f"{calib['parts']}", file=sys.stderr)

    ann_warm = _warm_ann_indexes(spark, sf_dir, qs)
    print(f"# ann warm pass: {ann_warm['sec']}s over "
          f"{ann_warm['n_queries']} queries", file=sys.stderr)

    timings: dict[str, float] = {}
    count_only: dict[str, float] = {}
    skipped: list[str] = []
    errors: dict[str, str] = {}
    for name in HEADLINE:
        fn = qs.get(name)
        if fn is None:
            # never silent: a missing headline query is a coverage gap,
            # not a shorter benchmark
            skipped.append(name)
            print(f"# SKIPPED (not in catalog): {name}", file=sys.stderr)
            continue
        try:
            _time_query(spark, sf_dir, name, fn, timings, count_only)
        except Exception as exc:  # noqa: BLE001
            # one broken query must never zero out the round's perf
            # signal (BENCH_r05 died on its 3rd query): record the
            # error, keep the rest of the run honest.
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            print(f"# ERROR {name}: {errors[name]}", file=sys.stderr)
            release_all_caches(spark)

    sf = float(Path(sf_dir).name.replace("sf", "") or 0)
    # Full per-query detail goes to a FILE: the driver keeps EXACTLY a
    # 2,000-char tail of stdout (measured: every BENCH_rN.json tail is
    # len 2000) and parses the final JSON line from that tail — the r6
    # final line (~2.6 KB with 50 queries x 2 splits) overflowed it and
    # BENCH_r06.json recorded "parsed": null (the line survives in the
    # tail cut mid-JSON).  A 108-query map is ~3.5 KB of names alone,
    # so the per-query contract (VERDICT r15 item 2) is carried by
    # DURABLE detail files instead: BENCH_DETAIL.json (latest run,
    # back-compat) plus BENCH_DETAIL_c{cpus}.json per core count, so a
    # later lower-core driver run can no longer overwrite the 32-core
    # per-query map (the r15 failure mode).  The final stdout line
    # below stays a compact summary (<1.5 KB) the driver can always
    # parse.
    cpus = spark.sparkContext.defaultParallelism
    detail = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "cpus": cpus,
        "queries": timings,
        "count_only": count_only,
        "sf": sf,
        "calib": calib,
        "ann_warm": ann_warm,
    }
    if skipped:
        detail["skipped"] = skipped
    if errors:
        detail["errors"] = errors
    here = Path(__file__).resolve().parent
    payload = json.dumps(detail, indent=1) + "\n"
    (here / "BENCH_DETAIL.json").write_text(payload)
    (here / f"BENCH_DETAIL_c{cpus}.json").write_text(payload)
    detail_path = here / "BENCH_DETAIL.json"

    # Cross-round totals compare per-prefix (BASELINE.md): the headline
    # list only ever APPENDS, so position-prefix sums are stable
    # identifiers across rounds.
    def prefix_sum(d: dict[str, float], n: int) -> float:
        names = [q for q in HEADLINE[:n] if q in d]
        return round(sum(d[q] for q in names), 3)

    bounds = [27, 31, 38, 44, 49, 50, 54, 56, 60, 62, 67, len(HEADLINE)]
    slowest = dict(
        sorted(timings.items(), key=lambda kv: -kv[1])[:5]
    )
    # ANN/retrieval tier subtotal (VERDICT r13 item 5): the tier has
    # drifted upward two driver rounds in a row; a named subtotal in
    # the compact line makes tier drift visible without BENCH_DETAIL
    # archaeology.  Membership is by name prefix — the serving-stack
    # families (ANN serves/recalls/maintenance, BM25, fused retrieval).
    ann_tier_sum = round(
        sum(
            t
            for q, t in timings.items()
            if q.startswith(("similarity_", "retrieval_", "index_bm25_"))
        ),
        3,
    )
    out = {
        "metric": "headline_queries_total",
        "value": detail["value"],
        "unit": "sec",
        "sf": sf,
        "cpus": cpus,
        "n_queries": len(timings),
        "prefix_sums": {str(b): prefix_sum(timings, b) for b in bounds},
        "prefix_sums_count_only": {
            str(b): prefix_sum(count_only, b) for b in bounds
        },
        "top5_slowest": slowest,
        "ann_tier_sum": ann_tier_sum,
        "ann_warm_sec": ann_warm["sec"],
        "n_errors": len(errors),
        "n_skipped": len(skipped),
        "detail_file": detail_path.name,
        "calib": calib,
    }
    print(json.dumps(out))


#: Headline-name prefixes whose queries serve from persisted
#: cross-process disk-cached indexes (feeds.cached_index_path): the
#: ANN/retrieval serving stack plus the IVF-backed semantic dedup.
ANN_WARM_PREFIXES = (
    "similarity_",
    "retrieval_",
    "index_bm25_",
    "dedup_semantic_",
)


def _warm_ann_indexes(spark, sf_dir, qs) -> dict:
    """Untimed warm pass over every index-backed headline query
    (VERDICT r14 item 2): the index disk cache is keyed by package
    code mtime, so the first bench after a checkout rebuilds every
    IVF/PQ/k-means index from scratch — and WHICH timed sample
    absorbed that cost depended on query order and cross-process
    cache state, making the ANN tier's numbers irreproducible across
    hosts (driver r14 read 1.5-2.2x the builder's same-day run on
    zero plan changes).  Running each index-backed query once here,
    count-only consumed and untimed, forces every persisted index to
    exist BEFORE the timing loop: everything after this measures
    warm-index engine time.  The pass's own wall-clock is emitted as
    ``ann_warm_sec`` so the cold-build cost stays visible instead of
    silently vanishing."""
    t0 = time.monotonic()
    warmed: dict[str, float] = {}
    for name in HEADLINE:
        if not name.startswith(ANN_WARM_PREFIXES):
            continue
        fn = qs.get(name)
        if fn is None:
            continue
        try:
            tq = time.monotonic()
            fn(spark, sf_dir).select(F.count(F.lit(1))).collect()
            # per-query warm seconds (VERDICT r15 item 2): a query's
            # FIRST warm pass after checkout pays its cold index
            # builds, so a build regression now moves a visible
            # number (in BENCH_DETAIL*.json) instead of vanishing
            # into the untimed total.
            warmed[name] = round(time.monotonic() - tq, 3)
        except Exception as exc:  # noqa: BLE001
            # the timing loop reports per-query errors properly; the
            # warm pass must never kill the bench
            print(f"# warm-pass ERROR {name}: {exc}"[:300], file=sys.stderr)
        release_all_caches(spark)
    return {
        "sec": round(time.monotonic() - t0, 3),
        "n_queries": len(warmed),
        "per_query_sec": warmed,
    }


def _calibrate(spark) -> dict:
    """Host-speed calibration probe (VERDICT r11 item 2): a tiny FIXED
    workload — data generated in-memory, no parquet, no scale factor —
    timed before the headline loop and emitted as ``calib`` in every
    bench artifact.  Cross-round comparisons on drifting shared hosts
    divide by the calib ratio instead of re-running old code (the r11
    A/B replay measured a uniform ~1.25x host drift; this makes that a
    one-division lookup).  Three parts cover the engine's dominant cost
    profiles (shuffle agg, window, join); min-of-3 each.  Only compare
    across identical ``version`` values — any change to the workload
    bumps it."""
    from pyspark.sql import Window

    probes = {
        "agg": lambda: spark.range(2_000_000)
        .groupBy((F.col("id") % 1000).alias("k"))
        .agg(F.sum("id").alias("s"), F.count(F.lit(1)).alias("c"))
        .select(F.bit_xor(F.xxhash64("k", "s", "c")))
        .collect(),
        "window": lambda: spark.range(500_000)
        .withColumn("k", F.col("id") % 100)
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("k").orderBy("id")),
        )
        .select(F.bit_xor(F.xxhash64("rn")))
        .collect(),
        "join": lambda: spark.range(1_000_000)
        .withColumn("k", F.col("id") % 100_000)
        .join(
            spark.range(100_000).withColumnRenamed("id", "k"), "k"
        )
        .select(F.bit_xor(F.xxhash64("k", "id")))
        .collect(),
    }
    parts: dict[str, float] = {}
    for pname, run in probes.items():
        run()  # untimed warm pass: codegen/JIT belongs to the session
        best = None
        for _ in range(3):
            t0 = time.monotonic()
            run()
            dt = time.monotonic() - t0
            best = dt if best is None else min(best, dt)
        parts[pname] = round(best, 3)
    return {
        "version": "c1",
        "sec": round(sum(parts.values()), 3),
        "parts": parts,
    }


def _time_query(spark, sf_dir, name, fn, timings, count_only) -> None:
    # min of 2 back-to-back runs per query: the shared host shows
    # ±40% CPU-contention noise on identical code, which a single
    # sample can't distinguish from a regression.  Both runs are
    # full end-to-end executions (plan build + execute + consume;
    # the catalog wrapper clears caches at entry), so the min is a
    # noise floor, not a cache artifact.  Both samples print below.
    # one count-only sample per query BEFORE the consuming runs: the
    # r1/r2 records were count()-timed, so the 2x-regression bar
    # needs a like-with-like number — for map-heavy sub-second
    # queries the consuming hash alone adds ~2x (measured 0.33s ->
    # 0.62s on lineitem_running_window).  Recorded separately in
    # "count_only"; the headline metric stays the consuming time.
    t0 = time.monotonic()
    fn(spark, sf_dir).select(F.count(F.lit(1))).collect()
    count_only[name] = round(time.monotonic() - t0, 3)
    release_all_caches(spark)
    runs = []
    for _ in range(2):
        t0 = time.monotonic()
        df = fn(spark, sf_dir)
        row = df.select(
            F.count(F.lit(1)).alias("n"),
            # bit_xor, not sum: ANSI mode makes a long-sum of hashes
            # overflow; xor consumes every column just the same.
            F.bit_xor(
                F.xxhash64(*[F.col(c) for c in df.columns])
            ).alias("h"),
        ).collect()[0]
        runs.append(round(time.monotonic() - t0, 3))
        # release this query's caches the moment its result is
        # consumed (untimed — comparability with earlier rounds):
        # no query's execution should carry a predecessor's blocks,
        # and run 2 must rebuild its caches like run 1 did.
        release_all_caches(spark)
    timings[name] = min(runs)
    print(
        f"# {name}: {timings[name]:.3f}s ({row['n']} rows; "
        f"runs={runs})",
        file=sys.stderr,
    )


if __name__ == "__main__":
    main()
