"""Incremental IVF index maintenance (VERDICT-r8 item 5).

Contracts:
1. upsert (stored base postings + delta assigned to STORED centroids)
   is byte-identical to a from-scratch assign-all over the same
   base-trained centroids — i.e. appending never changes what a full
   rebuild at the same model state would serve;
2. the upsert plan scans the stored postings parquet exactly once and
   its embeddings scans all carry the batch DataFilter (batch cost is
   proportional to |delta| — the corpus is never re-quantized);
3. the batch split is total: every corpus vector appears, base rows
   flagged is_new=0 and delta rows is_new=1, each under IVF_ASSIGN
   cells.
"""

from __future__ import annotations

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from spark_dns_spark.plans import q_kmeans as km
from spark_dns_spark.plans import q_similarity as qs

DIM = km.DIM


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _rebuild_assign_all(spark, sf_dir):
    """Assign the FULL corpus to the base-trained centroids in one
    fused lineage — the rebuild the upsert must equal."""
    root = qs.ivf_base_index_path(spark, sf_dir)
    crows = spark.read.parquet(f"{root}/cents").orderBy("cell").collect()
    cents = [[int(x) for x in r["cv"]] for r in crows]
    n = qs._vectors(spark, sf_dir)
    q = km.quantize(n.select("vec_id", "v"))
    return qs._nearest_cells(q, cents, qs.IVF_ASSIGN).withColumn(
        "is_new",
        ((F.col("vec_id") % qs.UP_MOD) == qs.UP_REM).cast("int"),
    )


def test_upsert_equals_full_rebuild(spark, sf_dir):
    up = _rows(qs.similarity_ivf_upsert(spark, sf_dir))
    rb = _rows(_rebuild_assign_all(spark, sf_dir))
    assert up, "no postings at sf0.001 — vacuous"
    assert up == rb


def test_upsert_plan_is_delta_proportional(spark, sf_dir):
    df = qs.similarity_ivf_upsert(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    root = qs.ivf_base_index_path(spark, sf_dir)
    assert plan.count(f"{root}/asg") == 1, "stored postings scanned != once"
    # the only embeddings scan is the delta lineage, batch-filtered
    emb_scans = [
        ln for ln in plan.splitlines() if "embeddings.parquet" in ln
    ]
    assert emb_scans, "expected a batch-filtered embeddings scan"
    for ln in emb_scans:
        assert f"% {qs.UP_MOD}) = {qs.UP_REM}" in ln, (
            f"unfiltered embeddings scan in upsert plan: {ln[:160]}"
        )
    assert f"{root}/cents" not in plan, (
        "centroids must be collected driver-side (K rows), not joined"
    )


def test_upsert_split_is_total(spark, sf_dir):
    up = qs.similarity_ivf_upsert(spark, sf_dir)
    n_corpus = qs._vectors(spark, sf_dir).count()
    per_vec = up.groupBy("vec_id", "is_new").agg(F.count("*").alias("n"))
    assert per_vec.count() == n_corpus
    assert per_vec.filter(F.col("n") != qs.IVF_ASSIGN).count() == 0
    flags = {
        (int(r["is_new"]), int(r["vec_id"]) % qs.UP_MOD == qs.UP_REM)
        for r in up.select("is_new", "vec_id").collect()
    }
    assert flags <= {(0, False), (1, True)}
    assert (1, True) in flags, "delta batch empty at this sf — vacuous"


@pytest.fixture(scope="module")
def tiny_q(spark):
    rng = np.random.default_rng(7)
    vecs = rng.integers(-1000, 1000, size=(17, DIM)).tolist()
    return spark.createDataFrame(
        [tuple([i] + [int(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id bigint, " + ", ".join(f"q{i} bigint" for i in range(DIM)),
    )


def _emission_counts(df):
    rows = df.groupBy("vec_id").count().collect()
    return {r["vec_id"]: r["count"] for r in rows}


@pytest.mark.parametrize("kc", [3, 8])
@pytest.mark.parametrize("kk", [1, 2, 5])
def test_nearest_cells_emits_exactly_min_kk_kc(spark, tiny_q, kc, kk):
    # duplicate centroids included on purpose: ties must NOT dedup —
    # the rebalance total0 arithmetic counts min(kk, kc) rows/vector
    rng = np.random.default_rng(kc)
    cents = rng.integers(-1000, 1000, size=(kc, DIM)).tolist()
    cents[-1] = list(cents[0])  # a tied pair of centroids
    expect = min(kk, kc)
    for meta in (False, True):
        out = qs._nearest_cells(tiny_q, cents, kk, meta=meta)
        counts = _emission_counts(out)
        assert len(counts) == 17
        assert set(counts.values()) == {expect}, (
            f"kc={kc} kk={kk} meta={meta}: per-vector emission "
            f"{set(counts.values())} != {{{expect}}} — the rebalance "
            "posting-conservation arithmetic depends on this"
        )


def test_nearest_cells_meta_slots_are_dense(spark, tiny_q):
    # rn must be exactly 1..k per vector (the demote-slot join keys on
    # it); d2 must be non-decreasing in rn (nearness order)
    cents = np.random.default_rng(3).integers(
        -1000, 1000, size=(6, DIM)
    ).tolist()
    out = qs._nearest_cells(tiny_q, cents, 4, meta=True).collect()
    by_vec: dict = {}
    for r in out:
        by_vec.setdefault(r["vec_id"], []).append((r["rn"], r["d2"]))
    for slots in by_vec.values():
        slots.sort()
        assert [s[0] for s in slots] == [1, 2, 3, 4]
        d2s = [s[1] for s in slots]
        assert d2s == sorted(d2s)


def test_cand_pin_knob(spark, monkeypatch):
    # the r16 candidate-dedup parallelism pin: REPARTITION_BY_NUM when
    # enabled (AQE's coalesce rule skips it), a no-op under
    # SPARK_DNS_CAND_PIN=0 (the in-process A/B knob)
    df = spark.range(100).selectExpr("id as a", "id as b")
    monkeypatch.delenv("SPARK_DNS_CAND_PIN", raising=False)
    pinned = qs._pin(df, "a", "b")
    plan = pinned._jdf.queryExecution().toString()
    assert "REPARTITION_BY_NUM" in plan
    monkeypatch.setenv("SPARK_DNS_CAND_PIN", "0")
    assert qs._pin(df, "a", "b") is df


@pytest.mark.parametrize(
    "name, pinned",
    [
        ("similarity_topk_ivf", True),
        ("similarity_ivf_delete_serve", True),
        ("similarity_upsert_serve_fresh", True),
        ("similarity_topk_ivfpq", True),
        ("similarity_topk_filtered", False),
        ("similarity_topk_filtered_rare", False),
        ("similarity_topk_lsh", False),
    ],
)
def test_cand_pin_placement(spark, sf_dir, monkeypatch, name, pinned):
    # the one pin rule (qs._candidates): plain nprobe probes pin the
    # candidate-dedup exchange, widened filtered probes and LSH bands
    # don't.  (The round-robin spread() of the cached vectors is a
    # REPARTITION_BY_NUM exchange too, hence the hash-key match.)
    import __spark_entry__ as entrymod

    monkeypatch.delenv("SPARK_DNS_CAND_PIN", raising=False)
    df = entrymod.queries()[name](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pin = re.compile(
        r"hashpartitioning\(query_id#\d+L?, neighbor_id#\d+L?, \d+\), "
        r"REPARTITION_BY_NUM"
    )
    assert bool(pin.search(plan)) == pinned
