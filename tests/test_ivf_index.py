"""IVF index persistence (VERDICT-r7 item 5): train-once/serve-many.

Contracts:
1. the stored-index serve path produces IDENTICAL results to the fused
   train+serve plan (same centroids, same postings, same re-rank);
2. the index is built once per process and reused;
3. the serve plan reads the postings parquet (no Lloyd retrain: no
   embeddings-wide aggregation stages beyond the query-side map).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_dns_spark.plans import q_similarity as qs


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_stored_index_matches_fused_plan(spark, sf_dir):
    stored = _rows(qs._ivf_topk(spark, sf_dir))
    fused = _rows(qs._ivf_topk_fused(spark, sf_dir))
    assert stored, "no IVF results at sf0.001 — vacuous"
    assert stored == fused


def test_index_built_once_and_reused(spark, sf_dir):
    p1 = qs.ivf_index_path(spark, sf_dir)
    p2 = qs.ivf_index_path(spark, sf_dir)
    assert p1 == p2
    cents = spark.read.parquet(f"{p1}/cents")
    asg = spark.read.parquet(f"{p1}/asg")
    n_corpus = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert cents.count() == qs.ivf_kc(n_corpus)
    # every corpus vector is indexed under exactly IVF_ASSIGN cells
    bad = (
        asg.groupBy("vec_id")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") != qs.IVF_ASSIGN)
        .count()
    )
    assert bad == 0
    # query-many: serve twice, identical
    assert _rows(qs._ivf_topk(spark, sf_dir)) == _rows(
        qs._ivf_topk(spark, sf_dir)
    )


def test_serve_plan_reads_postings_not_retrain(spark, sf_dir):
    df = qs._ivf_topk(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    root = qs.ivf_index_path(spark, sf_dir)
    assert plan.count(f"{root}/asg") == 1, "postings scanned != once"
    # Lloyd training aggregates quantized vectors per cell; the serve
    # plan must not contain any such aggregation over the full corpus —
    # its only embeddings scans are the query-side map (vec_id % QMOD)
    # and the exact re-rank join.
    emb_scans = [
        ln for ln in plan.splitlines() if "embeddings.parquet" in ln
    ]
    assert emb_scans, "expected embeddings scans for queries + re-rank"
    assert f"{root}/cents" not in plan, (
        "centroids must be collected driver-side (K rows), not joined"
    )


def test_rare_label_count_matches_distinct(spark, sf_dir):
    """The persisted index stats value equals the distinct().count()
    job it replaced (the serve reads metadata, the oracle re-derives
    from data — both must see the same cardinality)."""
    n = qs._vectors(spark, sf_dir)
    expect = (
        n.select((F.col("vec_id") % qs.RARE_MOD).alias("r"))
        .distinct()
        .count()
    )
    assert qs.rare_label_count(spark, sf_dir) == max(expect, 1)


def test_base_index_stats_n_vectors(spark, sf_dir):
    """Base-index n_vectors stats == the count_if it replaced."""
    root = qs.ivf_base_index_path(spark, sf_dir)
    n = qs._vectors(spark, sf_dir)
    expect = n.filter(
        (F.col("vec_id") % qs.UP_MOD) != qs.UP_REM
    ).count()
    assert qs.index_stat(root, "n_vectors") == expect
    # missing keys fall back to the default, never raise
    assert qs.index_stat(root, "no_such_key", default=-1) == -1


def test_vectors_memo_same_frame_and_count(spark, sf_dir):
    """_vectors returns the memoized frame on repeat calls (one cache
    entry per corpus) and its footer count matches a real count job."""
    a = qs._vectors(spark, sf_dir)
    b = qs._vectors(spark, sf_dir)
    assert a is b
    assert a._corpus_rows == a.count()
