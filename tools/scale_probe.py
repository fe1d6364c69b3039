"""Scale probe: time the heaviest catalog queries across data levels
(``--sf``) and core counts (``--cpus``), and judge each query's growth
against its designed work class.

Levels are the cross product of the two lists.  Each (sf, cpus) level
runs in its OWN checked subprocess (``run_level``), so ``local[N]``
really has N cores and one level's caches cannot warm another's.  The
parent then computes, per query:

- **sf ratio** — wall(sf) / wall(smallest sf) at the same core count,
  judged against the work growth of the query's class (linear, n^1.5
  or |Q| x corpus quadratic), or against its output growth for the
  pair-emitting ``OUTPUT_BOUND`` shapes, times ``NOISE_TOLERANCE``.
  Linear-or-sublinear is the evidence that plan shapes hold under
  growth — the complement to the plan audit's static checks;
- **core ratio** — wall(fewer cores) / wall(most cores) at the same
  sf.  A query whose plan parallelizes shows a ratio well above 1; a
  ratio near 1 names a serial bottleneck (driver rounds, 1-task
  stages).

Timing protocol, per query per level: one untimed warm run (absorbs
process-lifetime index builds, as production amortizes them), then
``release_all_caches``, then the min of 2 timed consuming ``count()``
runs — 1 at sf >= 10, where the heavy tier runs minutes per query and
``NOISE_TOLERANCE`` absorbs the rep noise.  A failing query is
recorded under the level's ``errors`` and the run goes on.  Levels at
sf >= 10 default the driver heap to 48g (100x data in one local JVM
OOMs the 8g default); ``SPARK_GRAFT_DRIVER_MEM`` still wins.

sf0.1 is the committed test data; larger levels are generated by
``tools/make_sf1.py`` (sf1 ~30 s and 250 MB, sf10 ~2.2 GB).  The query
set follows the levels: ``SF10_QUERIES`` when a level reaches sf10,
``CORES_QUERIES`` when more than one core count is given, ``QUERIES``
otherwise; ``--only`` names the queries instead.

Usage:
  python tools/scale_probe.py --sf 0.1,1 --cpus 32 [--json OUT.json]
  python tools/scale_probe.py --sf 0.1,10 --cpus 32
  python tools/scale_probe.py --sf 1 --cpus 32,8
  python tools/scale_probe.py --sf 0.1 --cpus 4,2 --only dedup_minhash_lsh
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

#: the top slowest heavy-tier queries (r7 bench detail + VERDICT's
#: plan-audit list), spanning every tier the sf1 gate covers; the
#: r8/r9 additions (PQ, composed IVF-PQ, incremental paths, BM25
#: density tiers, bigram LM) joined in r9 — VERDICT r8 item 4: the
#: 100x-scale claim for new flagship operators must be measured.
QUERIES = [
    "graph_pagerank_transitions",
    "dedup_snm_span_clusters",
    "mlprep_leakage_free_split",
    "kmeans_lloyd_cells",
    "similarity_topk_lsh",
    "dedup_minhash_lsh",
    "dedup_exact_substring",
    "pack_tokens_stream",
    "vocab_bpe_merges",
    "graph_triangle_count",
    # r9 additions
    "similarity_pq_codes",
    "similarity_pq_adc_recall",
    "similarity_topk_ivfpq",
    "similarity_ivf_upsert",
    "similarity_pq_upsert",
    "dedup_minhash_incremental",
    "index_bm25_topk",
    "index_bm25_dense",
    "quality_lm_bigram_score",
    # r9 continuation-2 additions (corpus-scaling; the TPC-H pack II is
    # NOT here — make_sf1 scales documents/embeddings/events only)
    "curation_boilerplate_fraction",
    "sketch_countmin_freq",
    "contamination_bloom_filter",
    "dedup_url_canonical",
    "curation_boilerplate_clean",
    "text_langid_confusion",
    "multimodal_phash_neardup",
    # r10 additions: the range pair (VERDICT r9 items 2+3 — the exact
    # queries whose density-coupled cost most needed the 10x
    # measurement), the cell-balance metric that makes the KC retune
    # measurable, and the TPC-H pack-II join tier (make_sf1 grows the
    # TPC-H fact web FK-consistently since r10)
    "similarity_range_ivf",
    "similarity_range_recall",
    "similarity_ivf_cell_balance",
    "similarity_topk_filtered",
    "similarity_ivf_cell_split",
    "tpch_q5_local_supplier_volume",
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "tpch_q10_returned_items",
    # r11 additions: the last TPC-H shapes (derived shipping columns /
    # partsupp, q_tpch2 header note) — Q21's per-order sole-late-supplier
    # agg is the shape whose scaling most needs evidence
    "tpch_q12_shipmode_priority",
    "tpch_q16_supplier_part_counts",
    "tpch_q21_waiting_suppliers",
    "similarity_ivf_cell_split_fixpoint",
    "similarity_ivf_upsert_rebalance",
    "similarity_topk_filtered_rare",
    "similarity_filtered_rare_recall",
    "tpch_q2_min_cost_supplier",
    "tpch_q9_product_type_profit",
    "similarity_hybrid_rrf",
    "retrieval_mmr_rerank",
    "dedup_cluster_label_propagation",
    # r12 additions: the filtered IVF-PQ pair, the upserted-index
    # serve-freshness proof, the fused filtered RAG pipeline, and the
    # SemDeDup semantic-dedup family
    "similarity_topk_filtered_ivfpq",
    "similarity_filtered_ivfpq_recall",
    "similarity_upsert_serve_fresh",
    "retrieval_filtered_fused_mmr",
    "dedup_semantic_semdedup",
    "dedup_semantic_incremental",
    "similarity_ivf_delete_serve",
]

#: The sf10 set (VERDICT r14 item 4): the verdict's named top-10
#: heavies — one representative per heavy family (near-dup LSH, span
#: clustering, range ANN, composed IVF-PQ serve + its recall gate,
#: iterative graph, streaming-order packing, multimodal near-dup, BM25,
#: fused retrieval pipeline).
SF10_QUERIES = [
    "graph_pagerank_transitions",
    "pack_tokens_stream",
    "dedup_minhash_lsh",
    "dedup_snm_span_clusters",
    "multimodal_phash_neardup",
    "similarity_topk_ivfpq",
    "similarity_ivfpq_recall",
    "similarity_range_ivf",
    # index_bm25_TOPK, not _dense: the dense tier (|Q| = corpus/5 =
    # 100k queries at sf10) performs ~8.7e9 exact integer score
    # updates whose aggregate state spills ~260 GB on ONE node — it
    # filled the probe host's disk.  That is a single-node disk bound,
    # not a plan defect (a 100-executor cluster holds ~2.6 GB/node of
    # the same spill); the topk tier measures the IDENTICAL plan at
    # 10x lower query density, which one node can hold.
    "index_bm25_topk",
    "retrieval_filtered_fused_mmr",
]

#: The core-count set (VERDICT r15 item 7): top bench heavies (r16
#: 32-core baseline order) + the two shuffle-parallel reps whose 8c
#: regression r15 flagged as core-count effects worth quantifying at a
#: meaningful SF.
CORES_QUERIES = [
    "retrieval_filtered_fused_mmr",
    "similarity_ivfpq_recall",
    "similarity_range_ivf",
    "similarity_ivf_upsert_rebalance",
    "mlprep_leakage_free_split",
    "similarity_range_recall",
    "graph_pagerank_transitions",
    "dedup_snm_span_clusters",
    "similarity_hybrid_rrf",
    "retrieval_mmr_rerank",
    "dedup_minhash_lsh",
    "index_bm25_dense",
]

#: the full heavy-tier ORACLE list for the sf1 cross-engine gate
#: (make sf1-oracle -> ORACLE_SF1_r{N}.json): the r8 41-query list +
#: the r8/r9 additions that were missing from it (VERDICT r8 item 4).
ORACLE_QUERIES = [
    "batching_length_grouped", "contamination_ngram_overlap",
    "dedup_cluster_assign", "dedup_cluster_pointer_doubling",
    "dedup_cluster_representatives", "dedup_cluster_star_contraction",
    "dedup_embedding_cosine", "dedup_exact_documents",
    "dedup_exact_substring", "dedup_incremental_batch",
    "dedup_minhash_incremental", "dedup_minhash_lsh",
    "dedup_minhash_signatures", "dedup_ngram_jaccard", "dedup_simhash",
    "dedup_snm_span_clusters", "dedup_sorted_neighborhood",
    "dedup_substring_clean", "embedding_quantize_int8",
    "graph_clustering_coefficient", "graph_pagerank_transitions",
    "graph_triangle_count", "kmeans_lloyd_cells",
    "linkage_field_scores", "mlprep_leakage_free_split",
    "mlprep_split_leakage_audit", "multimodal_binary_dedup",
    "pack_greedy_bins", "pack_tokens_stream", "pipeline_curate_corpus",
    "sessions_peak_concurrency", "similarity_ivf_build",
    "similarity_ivf_recall", "similarity_lsh_recall",
    "similarity_topk_bruteforce", "similarity_topk_ivf",
    "similarity_topk_lsh", "text_fingerprint", "vocab_bpe_apply",
    "vocab_bpe_fertility", "vocab_bpe_merges",
    # r8/r9 additions
    "similarity_pq_codes", "similarity_pq_adc_recall",
    "similarity_topk_ivfpq", "similarity_ivf_upsert",
    "index_bm25_topk", "index_bm25_dense", "quality_lm_bigram_score",
    "similarity_ivfpq_recall", "similarity_pq_upsert",
    "similarity_pq_drift", "similarity_pq_upsert_stream",
    "index_postings_upsert", "dedup_minhash_stream",
    "curation_boilerplate_fraction", "sketch_countmin_freq",
    "contamination_bloom_filter", "dedup_url_canonical",
    "curation_boilerplate_clean", "text_langid_confusion",
    "multimodal_phash_neardup",
    # r10 additions (VERDICT r9 items 3+5+6)
    "similarity_range_ivf", "similarity_range_recall",
    "similarity_ivf_cell_balance", "sketch_countmin_stream",
    "tpch_q5_local_supplier_volume", "tpch_q7_volume_shipping",
    "tpch_q8_market_share", "tpch_q10_returned_items",
    "tpch_q14_promo_revenue", "tpch_q17_small_quantity_revenue",
    "tpch_q19_disjunctive_revenue", "tpch_q12_shipmode_priority",
    "tpch_q16_supplier_part_counts", "tpch_q21_waiting_suppliers",
    "similarity_topk_filtered", "similarity_filtered_recall",
    "similarity_ivf_cell_split",
    # r11 additions
    "similarity_ivf_cell_split_fixpoint", "similarity_ivf_upsert_rebalance",
    "similarity_topk_filtered_rare", "similarity_filtered_rare_recall",
    "tpch_q2_min_cost_supplier", "tpch_q9_product_type_profit",
    "tpch_q11_important_stock", "tpch_q20_potential_promotion",
    "similarity_hybrid_rrf", "retrieval_mmr_rerank",
    "dedup_cluster_label_propagation",
    # r12 additions
    "similarity_topk_filtered_ivfpq", "similarity_filtered_ivfpq_recall",
    "similarity_upsert_serve_fresh", "retrieval_filtered_fused_mmr",
    "dedup_semantic_semdedup", "dedup_semantic_incremental",
    "similarity_ivf_delete_serve", "dedup_semantic_stream",
]


#: Queries whose WORK grows ~g^2 when the data grows g-fold: their
#: query set is drawn from the corpus (|Q| grows g-fold) and their cost
#: is |Q| x candidates (brute-force ground truth inside recall metrics;
#: the BM25 probe joins every query term against the postings).  Their
#: wall-clock ratio is judged against g^2 work, not g-fold data — the
#: artifact records both so a 30x ratio on 100x work reads as the
#: sublinear result it is instead of a scaling failure.
QUADRATIC_WORK = {
    "similarity_pq_adc_recall",
    "similarity_topk_ivfpq",
    "index_bm25_topk",
    "index_bm25_dense",
    "similarity_ivfpq_recall",
    # every vector is a query AND the QMOD ground-truth sample grows
    # 10x against a 10x corpus
    "similarity_range_recall",
    # 10x queries x 10x same-label brute ground truth
    "similarity_filtered_recall",
    # 10x queries x growing per-query probe scan (widened probes x
    # sqrt-sized cells)
    "similarity_topk_filtered",
    # the rare-label pair: same query/probe growth shape as the base
    # filtered pair
    "similarity_topk_filtered_rare",
    "similarity_filtered_rare_recall",
    # fuses two QMOD-sampled serves — inherits their growth class
    "similarity_hybrid_rrf",
    # shortlist post-processing on a QMOD-sampled serve — same class
    "retrieval_mmr_rerank",
    # r12: compose the filtered-serve and ADC classes (both quadratic)
    "similarity_topk_filtered_ivfpq",
    "similarity_filtered_ivfpq_recall",
    # r12: filtered fused pipeline — inherits its two retrievers' class
    "retrieval_filtered_fused_mmr",
}

#: Queries whose work grows ~n^1.5 (x~32 at 10x data): the all-pairs
#: range serve under the corpus-scaled IVF geometry — candidates per
#: vector ~ nprobe x cell size ~ sqrt(n) log n (VERDICT r9 item 2's
#: done-criterion: candidate growth tamed from quadratic).
SESQUI_WORK = {
    "similarity_range_ivf",
    # r12: QMOD queries x10 against per-query probe work ~ sqrt(n) log n
    "similarity_upsert_serve_fresh",
    # r12: within-cell pair prune — KC x cell^2 ~ n^1.5 pair work
    "dedup_semantic_semdedup",
    # r12: delta x within-cell base members — same n^1.5 class
    "dedup_semantic_incremental",
    # r12: a QMOD-sampled serve over pruned postings — the base IVF
    # serve class (queries x10, per-query probe ~ sqrt(n) log n)
    "similarity_ivf_delete_serve",
}

#: Queries allowed to claim the OUTPUT-growth bound (ADVICE r11: the
#: bound used to apply to every query, so any entry whose output grew
#: faster than its input could never breach — masking real
#: regressions).  Only pair-emitting shapes belong here: their output
#: is quadratic in duplicate-cluster size, so at a growing SF the
#: result set legitimately outgrows the input and time ~ output.
#: Everything else is judged purely on its designed work growth, and
#: these entries still carry a falsifiable rows/sec throughput check
#: in the artifact.
OUTPUT_BOUND = {
    "multimodal_phash_neardup",  # phash-band near-dup pairs
    "dedup_snm_span_clusters",  # span-cluster pair emission
    "similarity_range_ivf",  # radius pairs (also sesqui work)
}

#: Multiplicative noise headroom applied to every bound (VERDICT r13
#: item 6): r13's curation_boilerplate_fraction first sampled 10.06x
#: against a bare 10x bound — storage-pool noise on the min-of-2
#: protocol — and needed a disclosed re-run.  A bound with zero
#: headroom measures the host, not the design; 1.15 stays far below the
#: 2x that could mask a real super-linear regression.
NOISE_TOLERANCE = 1.15

#: Levels at or above this sf take one timed rep and a 48g default heap.
BIG_SF = 10.0


def sf_dir(sf: str) -> str:
    """The data directory of one level: the committed sf0.1, or a
    ``tools/make_sf1.py`` growth of it (built once, marker-guarded)."""
    from tools.make_sf1 import SRC, build

    copies = round(float(sf) / 0.1)
    if copies == 1:
        return SRC
    return build(str(HERE / ".scratch" / f"sf{sf}"), copies=copies)


def _child(sf_path: str, queries: list[str], reps: int) -> None:
    """Time ``queries`` on ``sf_path`` in this process; print ONE JSON
    line: per-query ``{"sec", "rows"}``, the failed queries' errors, and
    the session's real parallelism and driver heap."""
    from spark_dns_spark.session import get_session, release_all_caches

    import __spark_entry__ as entry

    spark = get_session("scale_probe")
    qs = entry.queries()
    times: dict[str, dict] = {}
    errors: dict[str, str] = {}
    for name in queries:
        try:
            fn = qs[name]
            fn(spark, sf_path).count()  # warm (index builds, code paths)
            release_all_caches(spark)
            runs = []
            for _ in range(reps):
                t0 = time.monotonic()
                rows = fn(spark, sf_path).count()
                runs.append(time.monotonic() - t0)
                release_all_caches(spark)
            times[name] = {"sec": round(min(runs), 3), "rows": rows}
        except Exception as exc:  # noqa: BLE001
            # one dead query must not zero out the level (the first
            # sf10 run died whole on a heap OOM five queries in)
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            release_all_caches(spark)
        print(f"# {name}: {times.get(name) or errors[name]}",
              file=sys.stderr, flush=True)
    print(json.dumps({
        "queries": times,
        "errors": errors,
        "parallelism": spark.sparkContext.defaultParallelism,
        "driver_mem": spark.conf.get("spark.driver.memory", None),
    }))


def run_level(sf: str, cpus: int, queries: list[str]) -> dict:
    """Run one (sf, cpus) level in a checked child process and return
    its parsed last stdout line.  A crashed child raises with its own
    stderr tail, not a parse error on empty stdout."""
    big = float(sf) >= BIG_SF
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), SPARK_GRAFT_TRACE="0")
    if big:
        env.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    code = (
        f"import sys; sys.path.insert(0, {str(HERE)!r}); "
        "from tools.scale_probe import _child; "
        f"_child({sf_dir(sf)!r}, {list(queries)!r}, {1 if big else 2})"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], env=env, capture_output=True, text=True,
    )
    sys.stderr.write(proc.stderr[-2000:])
    lines = proc.stdout.strip().splitlines()
    if proc.returncode or not lines:
        raise RuntimeError(
            f"sf{sf} {cpus}-core child failed (exit {proc.returncode}, "
            f"{len(lines)} stdout lines); stderr tail:\n{proc.stderr[-2000:]}"
        )
    return json.loads(lines[-1])


def work_growth(name: str, growth: int) -> int:
    """Designed work growth of ``name`` when the data grows ``growth``-fold."""
    if name in QUADRATIC_WORK:
        return growth**2
    if name in SESQUI_WORK:
        return round(growth**1.5)
    return growth


def sf_row(name: str, lo: str, a: dict, hi: str, b: dict) -> dict:
    """One query's sf ratio from its timings ``a`` at sf ``lo`` and ``b``
    at sf ``hi`` (each ``{"sec", "rows"}``), judged against its class."""
    la, lb = f"sf{lo}", f"sf{hi}"
    row = {la: a["sec"], f"rows_{la}": a["rows"],
           lb: b["sec"], f"rows_{lb}": b["rows"]}
    row["ratio"] = round(b["sec"] / max(a["sec"], 1e-9), 2)
    row["work_growth_x"] = work_growth(name, round(float(hi) / float(lo)))
    row["output_growth_x"] = round(b["rows"] / max(a["rows"], 1), 2)
    bound = row["work_growth_x"]
    if name in OUTPUT_BOUND:
        # pair emitters may spend time in proportion to their output
        # when it outgrows the input; they also carry rows/sec as a
        # falsifiable throughput check
        bound = max(bound, row["output_growth_x"])
        row[f"rows_per_sec_{la}"] = round(a["rows"] / max(a["sec"], 1e-9))
        row[f"rows_per_sec_{lb}"] = round(b["rows"] / max(b["sec"], 1e-9))
    row["bound_x"] = round(bound * NOISE_TOLERANCE, 2)
    row["in_bounds"] = row["ratio"] <= row["bound_x"]
    return row


def _max_ratio(rows: dict, names: set) -> float | None:
    return max((r["ratio"] for n, r in rows.items() if n in names), default=None)


def summarize(levels: dict[tuple[str, int], dict]) -> dict:
    """Ratios across levels.  ``levels[(sf, cpus)]`` is one child's
    ``{"queries": {name: {"sec", "rows"}}, ...}``.

    ``sf_scaling`` has one block per core count and sf above the
    smallest, against the smallest sf; ``core_scaling`` one block per
    sf and core count below the largest, against the largest.
    """
    sfs = sorted({sf for sf, _ in levels}, key=float)
    cpus = sorted({c for _, c in levels}, reverse=True)
    sf_blocks = []
    for c in cpus:
        lo = levels[(sfs[0], c)]["queries"]
        for hi_sf in sfs[1:]:
            hi = levels[(hi_sf, c)]["queries"]
            rows = {n: sf_row(n, sfs[0], lo[n], hi_sf, hi[n])
                    for n in lo if n in hi}
            sf_blocks.append({
                "cpus": c,
                "sf": [sfs[0], hi_sf],
                "data_growth_x": round(float(hi_sf) / float(sfs[0])),
                "queries": rows,
                "max_ratio_linear_work": _max_ratio(
                    rows, set(rows) - QUADRATIC_WORK - SESQUI_WORK),
                "max_ratio_quadratic_work": _max_ratio(rows, QUADRATIC_WORK),
                "max_ratio_sesqui_work": _max_ratio(rows, SESQUI_WORK),
                "breaches": sorted(n for n, r in rows.items()
                                   if not r["in_bounds"]),
            })
    core_blocks = []
    for sf in sfs:
        hi = levels[(sf, cpus[0])]["queries"]
        for c in cpus[1:]:
            lo = levels[(sf, c)]["queries"]
            rows = {}
            for n in dict.fromkeys([*hi, *lo]):
                a = hi.get(n, {}).get("sec")
                b = lo.get(n, {}).get("sec")
                rows[n] = {
                    f"sec_{cpus[0]}c": a,
                    f"sec_{c}c": b,
                    f"ratio_{c}c_over_{cpus[0]}c": (
                        round(b / a, 2) if a and b else None
                    ),
                }
            core_blocks.append({"sf": sf, "cpus": [cpus[0], c], "queries": rows})
    return {"sf_scaling": sf_blocks, "core_scaling": core_blocks}


def default_queries(sfs: list[str], cpus: list[int]) -> list[str]:
    if max(float(s) for s in sfs) >= BIG_SF:
        return SF10_QUERIES
    if len(cpus) > 1:
        return CORES_QUERIES
    return QUERIES


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        description="Time heavy catalog queries across data levels and "
        "core counts; one child process per level."
    )
    ap.add_argument("--sf", default="0.1,1",
                    help="comma-separated data levels (default 0.1,1)")
    ap.add_argument("--cpus", default="32",
                    help="comma-separated core counts (default 32)")
    ap.add_argument("--only", help="comma-separated queries to run "
                    "instead of the levels' default set")
    ap.add_argument("--json", help="also write the result document here")
    args = ap.parse_args(argv)
    sfs = args.sf.split(",")
    cpus = [int(c) for c in args.cpus.split(",")]
    queries = args.only.split(",") if args.only else default_queries(sfs, cpus)
    levels = {}
    for sf in sfs:
        for c in cpus:
            print(f"# level sf{sf} x {c} cores", file=sys.stderr, flush=True)
            levels[(sf, c)] = run_level(sf, c, queries)
    doc = {
        "metric": "scale_probe",
        "levels": [
            {"sf": sf, "cpus": c,
             **{k: v for k, v in out.items() if k != "queries"}}
            for (sf, c), out in levels.items()
        ],
        **summarize(levels),
        "note": (
            "sf ratios are weak scaling on FIXED hardware: <= "
            "work_growth_x is sublinear; overhead-bound queries sit near "
            "1x while compute-bound ones approach the work growth. "
            "Compare ABSOLUTE seconds across rounds, not ratios — "
            "optimizing the small-sf side inflates the ratio of an "
            "unchanged-or-faster large-sf run."
        ),
    }
    print(json.dumps(doc))
    if args.json:
        Path(args.json).write_text(json.dumps(doc, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
