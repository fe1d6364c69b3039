"""Bit-identity contract across the vector-math formulations.

The similarity tier keeps three dot-product formulations (interpreted
HOF fold, Arrow-batched numpy fold, unrolled codegen expression tree)
and two band-signature formulations (HOF vs Arrow), picking per call
site the fastest one whose operands are already in place.  That is only
sound if every formulation produces BIT-IDENTICAL doubles — the DuckDB
oracle mirrors the sequential index-order fold, so any formulation that
reorders IEEE additions (e.g. np.dot's pairwise summation) would pass
"approximately" and fail the driver's value hash.  These tests pin the
contract on real embedding vectors, not synthetic round numbers.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_dns_spark.operators import similarity as sim
from spark_dns_spark.plans import q_similarity as qs

pytestmark = pytest.mark.usefixtures("spark")


@pytest.fixture(scope="module")
def vecs(spark, sf_dir):
    return (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
        .persist()
    )


def test_dot_formulations_bit_identical(vecs):
    # pair every vector with a shifted copy of itself (v, reverse(v))
    df = vecs.select("vec_id", "v", F.reverse("v").alias("w"))
    rows = (
        df.select(
            "vec_id",
            sim.dot(F.col("v"), F.col("w")).alias("hof"),
            sim.dot_arrow(F.col("v"), F.col("w")).alias("arrow"),
            sim.dot_unrolled(F.col("v"), F.col("w")).alias("unrolled"),
        )
        .collect()
    )
    assert rows
    for r in rows:
        # exact equality, not approx: the whole point is IEEE-order parity
        assert r["hof"] == r["arrow"] == r["unrolled"], r["vec_id"]


def test_band_signatures_formulations_identical(vecs):
    planes = sim.sign_planes(16)
    hof = vecs.select(
        "vec_id", F.array(*sim.band_signatures(F.col("v"), planes, 4)).alias("k")
    )
    arrow = vecs.select(
        "vec_id", sim.band_signatures_arrow(F.col("v"), planes, 4).alias("k")
    )
    diff = hof.join(arrow.withColumnRenamed("k", "k2"), "vec_id").filter(
        F.col("k") != F.col("k2")
    )
    assert diff.count() == 0


def test_band_keys_int_match_string_form(vecs):
    """band_keys_arrow packs (band << rpb) | bits with plane order = MSB
    first — must encode exactly the string form's buckets."""
    planes = sim.sign_planes(24)
    rpb = 4
    s = vecs.select(
        "vec_id", sim.band_signatures_arrow(F.col("v"), planes, rpb).alias("ks")
    )
    i = vecs.select(
        "vec_id", sim.band_keys_arrow(F.col("v"), planes, rpb).alias("ki")
    )
    rows = {r["vec_id"]: r["ks"] for r in s.collect()}
    for r in i.collect():
        expect = [
            (int(k.split(":")[0]) << rpb) | int(k.split(":")[1], 2)
            for k in rows[r["vec_id"]]
        ]
        assert list(r["ki"]) == expect, r["vec_id"]


def test_cosine_pairs_broadcast_matches_join_form(spark, vecs):
    n = vecs.withColumn("nm", F.sqrt(sim.dot_unrolled(F.col("v"), F.col("v"))))
    n = n.persist()
    pairs = (
        n.select(F.col("vec_id").alias("id_a"))
        .crossJoin(n.select(F.col("vec_id").alias("id_b")))
        .filter((F.col("id_a") < F.col("id_b")) & (F.col("id_b") % 7 == 0))
    )
    via_matrix = pairs.withColumn(
        "c", sim.cosine_pairs_broadcast(spark, n, "id_a", "id_b")
    )
    a = n.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"), F.col("nm").alias("na"))
    b = n.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"), F.col("nm").alias("nb"))
    via_join = (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "c",
            sim.cosine_with_norms(
                F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
            ),
        )
        .select("id_a", "id_b", "c")
    )
    m = {(r["id_a"], r["id_b"]): r["c"] for r in via_matrix.collect()}
    j = {(r["id_a"], r["id_b"]): r["c"] for r in via_join.collect()}
    assert m and m == j  # exact double equality per pair


def test_attach_cosine_branches_bit_identical(spark, vecs):
    """The size-thresholded attach_cosine (VERDICT r3 item 2) must give
    bit-identical cosines through BOTH physical strategies: the
    broadcast-matrix gather and the bucketed pair-join."""
    n = vecs.withColumn(
        "nm", F.sqrt(sim.dot_unrolled(F.col("v"), F.col("v")))
    ).persist()
    pairs = (
        n.select(F.col("vec_id").alias("id_a"))
        .crossJoin(n.select(F.col("vec_id").alias("id_b")))
        .filter((F.col("id_a") < F.col("id_b")) & (F.col("id_b") % 11 == 0))
    )
    via_bcast = sim.attach_cosine(
        pairs, n, "id_a", "id_b", max_broadcast_rows=10**9
    ).select("id_a", "id_b", "cosine")
    via_join = sim.attach_cosine(
        pairs, n, "id_a", "id_b", max_broadcast_rows=0
    ).select("id_a", "id_b", "cosine")
    b = {(r["id_a"], r["id_b"]): r["cosine"] for r in via_bcast.collect()}
    j = {(r["id_a"], r["id_b"]): r["cosine"] for r in via_join.collect()}
    assert b and b == j  # exact double equality per pair


def test_lsh_params_scale_rule():
    """Bucket space per band tracks corpus size: rpb = ceil(log2(n))-4
    clamped to [RPB_MIN, RPB_MAX]; nbands comes from the shared literal
    table.  Doubling the corpus must never SHRINK the bucket space."""
    t = sim.nbands_table(0.25)
    assert len(t) == sim.RPB_MAX - sim.RPB_MIN + 1
    assert all(b <= sim.MAX_BANDS for b in t)
    last_rpb = 0
    for n in [10, 100, 500, 2000, 10**4, 10**6, 10**9]:
        rpb, nb = sim.lsh_params(n, t)
        assert sim.RPB_MIN <= rpb <= sim.RPB_MAX
        assert rpb >= last_rpb, (n, rpb)
        assert nb == t[rpb - sim.RPB_MIN]
        last_rpb = rpb
    assert sim.lsh_params(2**20, t)[0] == 16  # 1M vectors -> 2^16 buckets/band


def test_attach_strategies_bit_identical(spark, sf_dir):
    """strategy='gather' (Arrow matrix fold) and the broadcast-join
    codegen dot must agree bit-for-bit — the r15 per-site strategy
    choice is a physical decision only."""
    n = qs._vectors(spark, sf_dir)
    pairs = (
        n.select(F.col("vec_id").alias("id_a"))
        .crossJoin(n.select(F.col("vec_id").alias("id_b")))
        .filter((F.col("id_a") < F.col("id_b")) & (F.col("id_b") % 11 == 0))
    )
    g = sim.attach_cosine(pairs, n, "id_a", "id_b", strategy="gather")
    j = sim.attach_cosine(pairs, n, "id_a", "id_b")
    gm = {(r["id_a"], r["id_b"]): r["cosine"] for r in g.collect()}
    jm = {(r["id_a"], r["id_b"]): r["cosine"] for r in j.collect()}
    assert gm and gm == jm  # exact double equality per pair
