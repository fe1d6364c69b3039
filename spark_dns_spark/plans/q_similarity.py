"""Similarity-search queries over ``embeddings`` — brute-force cosine
top-k (exact baseline), hyperplane-LSH and IVF variants (the 100 TB
scale paths), and embedding-cosine near-dup pairs.  Every query has a
bit-exact DuckDB oracle (SURVEY.md build-plan M5).

Scale notes (the point of the three tiers):
- brute force is |Q|x|C|; correct only when Q is broadcast-small.
- LSH shuffles once on band keys; candidate count ~ bucket collisions,
  never |C|^2.
- IVF touches nprobe/ncells of the corpus per query; the cell column is
  the natural partition/bucket key for a 100 TB corpus layout.
"""

from __future__ import annotations

import math
import os
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_dns_spark.operators import similarity as sim
from spark_dns_spark.plans import q_kmeans as km
from spark_dns_spark.plans.catalog import register
from spark_dns_spark.session import load_table, spread

K = 10  #: neighbors per query
QMOD = 50  #: query set = vec_id % QMOD == 0 (10/20/40 queries at sf0.001/.01/.1)
#: Floor for the CORPUS-SCALED coarse cell count (VERDICT r9 item 2:
#: a compile-time KC makes probed-cell size ∝ |C|/KC, so the range
#: serve's pair cost was Θ(|C|²/KC) — quadratic with a constant-factor
#: discount).  The live count is :func:`ivf_kc` / the ``kprm`` oracle
#: CTE: KC = max(20, ⌊√n⌋) — the FAISS KC ∝ √n sizing rule (the
#: asymptotic content; FAISS's 4√n CONSTANT is tuned for billion-scale
#: corpora and over-fragments at gated scale: measured ivf recall@10
#: fell 0.86→0.57 at sf0.001 under 4√n, vs floors held at 1·√n) —
#: keeping cells ~√n-sized, so all-pairs range cost is
#: Θ(n · nprobe · √n) ≈ n^1.5·log n; per-query top-k probe ~ √n·log n.
IVF_KC_MIN = 20
IVF_ITERS = 3  #: Lloyd iterations for the coarse quantizer
IVF_ASSIGN = 2  #: cells each corpus vector is indexed under (multi-assignment)
#: Floor for the probe count.  NPROBE grows only LOGARITHMICALLY
#: (:func:`nprobe` = max(6, ceil(log2 n))) while KC grows as √n, so the
#: probe FRACTION nprobe/KC ∝ log n/√n still decays — that decay is
#: what kills the quadratic term (range pair cost Θ(n^1.5·log n)) —
#: while the slow probe growth holds top-k recall as cells shrink
#: relative to the k-NN ball (measured at sf0.1: recall@10 0.62 under
#: a constant 6 probes vs 0.82+ under log2 scaling).  The recall
#: queries (similarity_ivf_recall, similarity_range_recall,
#: similarity_ivfpq_recall) are the accountability metrics.
NPROBE_MIN = 6
COS_T = 0.4  #: near-dup threshold (max pairwise cosine in testdata ~0.48)

#: Cosine the banding is TUNED for: the typical top-K neighbor cosine
#: in this corpus (~0.25), not the near-dup threshold COS_T — tuning to
#: 0.4 under-bands for top-k recall (measured: 71% vs the 74% r3 gate;
#: at 0.25 the table holds ~80%+).  similarity_lsh_recall is the
#: accountability metric for this constant.
TUNE_COS = 0.25
#: Bands needed per bits-per-band to hold ~80% recall at TUNE_COS —
#: integer literals shared verbatim by both engines (sim.nbands_table).
NBANDS_BY_RPB = sim.nbands_table(TUNE_COS)
_NBANDS_LIT = "[" + ", ".join(str(x) for x in NBANDS_BY_RPB) + "]"


def _lsh_geometry(spark: SparkSession, sf_dir: str) -> tuple[int, list[str]]:
    """(rows_per_band, planes) for this corpus — bits-per-band tracks
    ceil(log2(n)) - 4 (VERDICT r3 item 1: bucket space must grow with
    the data; a compile-time band width is quadratic at 100x).  The
    count is a parquet-metadata action; planes regenerate
    deterministically from md5 for any width."""
    rpb, nbands = sim.lsh_params(corpus_rows(sf_dir), NBANDS_BY_RPB)
    return rpb, sim.sign_planes(rpb * nbands)


def corpus_rows(sf_dir: str) -> int:
    """Embeddings-corpus row count from parquet FOOTER metadata — zero
    Spark jobs (guide §5: the driver should do almost no data work).
    Every serve-family query needs this count for its scale-adaptive
    constants (nprobe, LSH geometry, shortlist size, broadcast
    envelope); as a ``df.count()`` it was one full scan job + a driver
    round-trip PER SITE, and the r15 profile showed the serve queries
    spending over half their wall in exactly this class of tiny
    driver-side jobs."""
    return km.parquet_dir_rows(os.path.join(sf_dir, "embeddings.parquet"))


def _nrows(n: DataFrame) -> int:
    """Corpus row count for a ``_vectors`` frame: the footer-metadata
    count stashed by :func:`_vectors` when available, else a count job
    (foreign frames, tests)."""
    cached = getattr(n, "_corpus_rows", None)
    return cached if cached is not None else n.count()


def _pin_npart(spark: SparkSession) -> int:
    """Partition count for the candidate-dedup REPARTITION_BY_NUM pins
    (r16): the stage after an IVF candidate dedup evaluates interpreted
    /unrolled distance folds per pair — compute-heavy, byte-light — and
    AQE's byte-based coalescing collapses it to 1-10 of 32 tasks (the
    r15 BM25 failure mode).  Scale-aware: the pin follows
    spark.sql.shuffle.partitions, so on a cluster it is whatever the
    submit conf says, and 0 (via SPARK_DNS_CAND_PIN=0) disables every
    pin — the in-process A/B knob.  An unset key falls back to the
    session's cores (``conf.get`` returns the caller's default then)."""
    if os.environ.get("SPARK_DNS_CAND_PIN", "") == "0":
        return 0
    return int(spark.conf.get(
        "spark.sql.shuffle.partitions",
        str(spark.sparkContext.defaultParallelism),
    ))


def _pin(df: DataFrame, *cols: str) -> DataFrame:
    """Apply the candidate-dedup parallelism pin (no-op when disabled)."""
    npart = _pin_npart(df.sparkSession)
    return df.repartition(npart, *cols) if npart else df


#: Shared DuckDB CTE: float[] -> double[] plus precomputed norm.
_BASE_CTE = f"""
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
), n AS (
  SELECT vec_id, v, {sim.norm_sql("v")} AS nm FROM e
)
"""

#: Dynamic-banding signature CTE — the oracle derives (rpb, nbands)
#: from count(*) with the SAME rule as sim.lsh_params (nbands via the
#: shared integer-literal table, so no cross-engine pow/ln hazard) and
#: regenerates the ±1 planes from md5 exactly like sim.sign_planes
#: (digest byte 0 & 1 == parity of the first hex byte).  Both engines
#: therefore agree at EVERY scale factor, not just the one the SQL was
#: written for.
#: Signature-only CTE body (prm/pl/sb/sx over prior e and n) — split
#: from :data:`_SIG_CTE` so fused multi-serve texts can graft the LSH
#: family onto an already-present base chain instead of nesting a
#: second full serve subquery (the r14 shared-WITH convention).
_SIG_BODY = (
    f"""
, prm AS (
  SELECT rpb, ({_NBANDS_LIT})[rpb - {sim.RPB_MIN - 1}] AS nbands FROM (
    SELECT least({sim.RPB_MAX}, greatest({sim.RPB_MIN},
                 CAST(ceil(log2(count(*))) AS INT) - 4)) AS rpb
    FROM e
  )
), pl AS (
  SELECT k,
         list(CASE WHEN CAST('0x' || substr(md5('{sim.PLANE_SEED}|' || k || '|' || i), 1, 2)
                        AS INT) % 2 = 1
                   THEN 1.0 ELSE -1.0 END ORDER BY i) AS pv
  FROM (SELECT unnest(generate_series(0, (SELECT rpb * nbands FROM prm) - 1)) AS k),
       (SELECT unnest(generate_series(0, {sim.DIM - 1})) AS i)
  GROUP BY k
), sb AS (
  SELECT n.vec_id, pl.k // (SELECT rpb FROM prm) AS band,
         CASE WHEN {sim.dot_sql("n.v", "pl.pv")} > 0
              THEN 1 << ((SELECT rpb FROM prm) - 1 - (pl.k % (SELECT rpb FROM prm)))
              ELSE 0 END AS bitv
  FROM n, pl
), sx AS (
  SELECT vec_id,
         CAST((band << (SELECT rpb FROM prm)) + sum(bitv) AS BIGINT) AS band_key
  FROM sb GROUP BY vec_id, band
)
"""
)

_SIG_CTE = _BASE_CTE + _SIG_BODY


def _scored_topk_body(cand_name: str) -> str:
    """Exact-cosine top-K rank SELECT over a NAMED candidate CTE —
    the composable form of :func:`_scored_topk_sql`, used by the
    fused multi-serve oracle texts (two serves sharing one WITH
    chain, VERDICT r13 item 1) where ``cand`` is not the only
    candidate set in scope.  Same text modulo the source name."""
    return f"""
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM (
    SELECT query_id, neighbor_id,
           round({sim.dot_sql("q.v", "c.v")} / (q.nm * c.nm), 4) AS cosine
    FROM {cand_name} JOIN n q ON q.vec_id = {cand_name}.query_id
              JOIN n c ON c.vec_id = {cand_name}.neighbor_id
  )
) WHERE rank <= {K}
"""


def _scored_topk_sql(cand_cte: str) -> str:
    """Rank candidate (query_id, neighbor_id) pairs by exact cosine."""
    return cand_cte + _scored_topk_body("cand")


#: Process-lifetime memo of the ``_vectors`` FRAME (the lazy plan, not
#: its data): the fused/recall queries call ``_vectors`` 2-3 times per
#: invocation, and every call built a NEW persisted DataFrame over the
#: same parquet — three identical cache entries, three executions of
#: the norm pipeline, and ~0.3 s of py4j plan-build latency each (r15
#: build profile).  Reusing the frame object keeps ONE cache entry per
#: corpus.  Cached BLOCKS are still released between queries/runs by
#: release_all_caches (clearCache drops the CacheManager entry), so
#: every timed run recomputes from parquet — the memo only skips
#: rebuilding an identical lazy plan; ``persist()`` below re-registers
#: the frame after each cache release.  Keyed by (applicationId,
#: sf_dir, embeddings mtime) — a new session or changed input builds
#: fresh.
_VECTORS_MEMO: dict = {}


def _embeddings_fingerprint(path: str) -> tuple:
    """Change-detection key for the embeddings input (ADVICE r15): the
    top-level mtime alone misses a part file overwritten IN PLACE inside
    a directory (the dir mtime only changes on create/delete), so fold
    every part file's (name, mtime, size) into the key.  One listdir —
    no Spark jobs, same class as the footer-metadata reads."""
    try:
        st = os.stat(path)
    except OSError:
        return (0,)
    if not os.path.isdir(path):
        return (st.st_mtime_ns, st.st_size)
    parts = []
    for f in sorted(os.listdir(path)):
        try:
            s = os.stat(os.path.join(path, f))
        except OSError:
            continue
        parts.append((f, s.st_mtime_ns, s.st_size))
    return tuple(parts)


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_dns_spark.plans.feeds import _INDEX_LOCK  # noqa: PLC0415

    path = os.path.join(sf_dir, "embeddings.parquet")
    scope = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    key = scope + (_embeddings_fingerprint(path),)
    with _INDEX_LOCK:
        memo = _VECTORS_MEMO.get(key)
    if memo is not None:
        # re-register with the cache manager (idempotent while cached;
        # required after release_all_caches cleared the entry)
        memo.persist()
        return memo
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    # spread(): the testdata table is a single parquet split, which
    # would serialize the (now scale-adaptive, ~100s-of-planes) Arrow
    # signature UDF onto one core — a no-op at real scale where file
    # counts provide splits.  Persist at the fan-out: every consumer
    # branches 2-3 ways (query side, corpus side, candidate build).
    n = spread(
        e.withColumn("nm", F.sqrt(sim.dot_unrolled("v", "v")))
    ).persist()
    # Footer-metadata row count riding on the frame (_nrows): _vectors
    # is a 1:1 map of embeddings, so the file count IS the frame count
    # — downstream nprobe/envelope decisions read it without a job.
    n._corpus_rows = corpus_rows(sf_dir)
    with _INDEX_LOCK:
        # bounded memo (ADVICE r15): a regenerated corpus must not
        # leave the stale frame pinned for the process lifetime —
        # evict every prior entry of this (application, sf_dir) scope.
        for k in [k for k in _VECTORS_MEMO if k[:2] == scope]:
            del _VECTORS_MEMO[k]
        _VECTORS_MEMO[key] = n
    return n


def _scored_topk(
    n: DataFrame, cand: DataFrame, strategy: str = "auto"
) -> DataFrame:
    """Spark mirror of :func:`_scored_topk_sql` — cosine is computed only
    on candidate pairs; norms come precomputed from ``n``.

    ``strategy`` passes through to :func:`sim.attach_cosine`: serve
    shortlists keep the zero-driver-job broadcast join ("auto");
    pair-heavy candidate sets (brute-force truth sides, wide-filter
    serves) force the SIMD matrix-gather ("gather") — see the
    attach_cosine docstring for the measured crossover."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        sim.attach_cosine(cand, n, "query_id", "neighbor_id",
                          strategy=strategy)
        .withColumn("cosine", F.round(F.col("cosine"), 4))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= K)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _empty_topk(n: DataFrame) -> DataFrame:
    """The schema-stable empty top-k an empty index serves."""
    return _scored_topk(
        n, n.select(F.col("vec_id").alias("query_id")).limit(0).select(
            "query_id", F.col("query_id").alias("neighbor_id")
        )
    )


def _recall(
    truth: DataFrame, served: DataFrame, k: int | None = None
) -> DataFrame:
    """Per-query recall of ``served`` against ``truth`` (both carry
    query_id, neighbor_id): hits and ``recall_e4`` = hits·10⁴ / k, or,
    with ``k=None``, / the query's truth count (emitted as truth_n)."""
    hit = served.select("query_id", "neighbor_id").withColumn("hit", F.lit(1))
    per_q = (
        truth.select("query_id", "neighbor_id")
        .join(hit, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
    )
    hits = F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("hits")
    if k is not None:
        return per_q.agg(hits).select(
            "query_id",
            "hits",
            (F.col("hits") * F.lit(10000 // k)).alias("recall_e4"),
        )
    return per_q.agg(F.count(F.lit(1)).alias("truth_n"), hits).select(
        "query_id",
        "truth_n",
        "hits",
        F.expr("hits * 10000 div truth_n").alias("recall_e4"),
    )


_BF_SQL = (
    _BASE_CTE
    + f"""
, cand AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM n q JOIN n c ON c.vec_id <> q.vec_id
  WHERE q.vec_id % {QMOD} = 0
)
"""
    + _scored_topk_sql("")
)

_LSH_SQL = (
    _SIG_CTE
    + f"""
, cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM sx q JOIN sx c ON c.band_key = q.band_key AND c.vec_id <> q.vec_id
  WHERE q.vec_id % {QMOD} = 0
)
"""
    + _scored_topk_sql("")
)


@register(
    "similarity_topk_bruteforce",
    _BF_SQL,
    doc=f"exact ANN baseline: brute-force cosine top-{K} for a broadcast "
    "query set — |Q|x|C| pairs, the correctness reference for LSH/IVF",
    tags=("similarity", "bench"),
)
def similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bf_topk(spark, sf_dir)


def _bf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _vectors(spark, sf_dir)
    q = n.filter(F.col("vec_id") % QMOD == 0).select(
        F.col("vec_id").alias("query_id")
    )
    c = n.select(F.col("vec_id").alias("neighbor_id"))
    cand = c.join(
        F.broadcast(q), F.col("neighbor_id") != F.col("query_id")
    )
    # gather: the |Q|x|C| brute-force stream (~8M pairs at sf0.1) is
    # the second pair-heaviest attach in the catalog — the SIMD fold
    # wins (r15 A/B min-of-3: 1.30 s vs 1.83 s end-to-end; also the
    # faster side inside every recall metric that embeds this truth)
    return _scored_topk(n, cand, strategy="gather")


@register(
    "similarity_topk_lsh",
    _LSH_SQL,
    doc="LSH ANN: scale-adaptive hyperplane sign bands (bits-per-band "
    "~ log2(n), bands tuned for ~80% recall); candidates share >=1 "
    "band bucket; exact cosine re-rank. One shuffle on band keys — "
    "the near-dup scale path",
    tags=("similarity", "lsh", "bench"),
)
def similarity_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _lsh_topk(spark, sf_dir)


def _lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _vectors(spark, sf_dir)
    rpb, planes = _lsh_geometry(spark, sf_dir)
    # Arrow-batched signatures (bit-identical fold, ~100x the interpreted
    # HOF path), persisted at the fan-out so the band self-join's two
    # sides share one computation.
    sx = n.select(
        "vec_id",
        F.explode(
            sim.band_keys_arrow(F.col("v"), planes, rpb)
        ).alias("band_key"),
    ).persist()
    # NO parallelism pin here (r16 negative result, measured both
    # ways): a band pair repeats once per shared band, so a
    # PRE-distinct repartition shuffles every duplicate (hybrid_rrf
    # 11 s vs 3.4 s — the map-side partial dedup is load-bearing), and
    # a POST-distinct repartition's extra exchange still measured
    # 20-40% slower than letting AQE coalesce (topk_lsh interleaved
    # A/B: {3.2, 4.0} pinned vs {3.3, 2.4} unpinned) — the gather
    # kernel is memory-bandwidth-bound, so extra tasks buy nothing.
    cand = (
        sx.filter(F.col("vec_id") % QMOD == 0)
        .select(F.col("vec_id").alias("query_id"), "band_key")
        .join(
            sx.select(F.col("vec_id").alias("neighbor_id"), "band_key"),
            "band_key",
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    return _scored_topk(n, cand)


#: IVF coarse quantizer (r7, VERDICT-r6 item 2): Lloyd k-means cells
#: over integer-quantized vectors (the q_kmeans machinery — exact in
#: both engines, no float-summation-order hazard), replacing r6's
#: label-partitioned cells (recall ~0.56).  Two recall levers beyond
#: the better cell geometry, both standard IVF practice:
#: - multi-assignment: each corpus vector is indexed under its
#:   IVF_ASSIGN nearest cells (FAISS "multiple assignment"), trading
#:   index size (2x postings, the vectors themselves are not copied)
#:   for boundary-neighbor recall;
#: - nprobe grows ~log n while KC scales as √n (see the IVF_KC_MIN /
#:   NPROBE_MIN notes above) — recall floors are re-gated at
#:   every tested SF by tests/test_ann_recall_gate.py.


def ivf_kc(n: int) -> int:
    """Corpus-scaled coarse cell count: ``max(20, isqrt(n))`` — the
    FAISS KC ∝ √n rule, mirrored bit-exactly by the ``kprm`` oracle CTE
    (``floor(sqrt(count))`` == ``isqrt(count)`` for every count below
    2^52, far beyond any tested corpus)."""
    return max(IVF_KC_MIN, math.isqrt(max(n, 0)))


def nprobe(n: int) -> int:
    """Corpus-scaled probe count: ``max(6, ceil(log2 n))`` — mirrored
    by the ``nprm`` oracle CTE (``ceil(log2(count))`` is ulp-safe
    cross-engine because log2 is exact at the only boundary, exact
    powers of two — the sim.lsh_params precedent)."""
    return max(NPROBE_MIN, math.ceil(math.log2(max(n, 2))))


#: SQL twins of :func:`ivf_kc` / :func:`nprobe` over the prior CTE
#: ``q`` — evaluated INSIDE the oracle so both engines derive the same
#: cell and probe counts at every scale factor (the _SIG_CTE
#: dynamic-banding precedent).
_KPRM_CTE = f"""
, kprm AS (
  SELECT greatest({IVF_KC_MIN},
                  CAST(floor(sqrt(count(*))) AS BIGINT)) AS kc
  FROM q
)"""

#: ``greatest(count, 2)`` mirrors :func:`nprobe`'s ``max(n, 2)`` guard:
#: on an empty/1-row corpus ``log2(0|1)`` would be -inf/0 and the
#: BIGINT cast would throw where the Spark side returns schema-stable
#: empty results (ADVICE r10).
_NPRM_CTE = f"""
, nprm AS (
  SELECT greatest({NPROBE_MIN},
                  CAST(ceil(log2(greatest(count(*), 2))) AS BIGINT)) AS np
  FROM q
)"""

_IVF_CENTS_SQL, _IVF_CENTS_CTE = km.lloyd_cents_sql(
    "(SELECT kc FROM kprm)", IVF_ITERS
)

_IVF_CTE = (
    _BASE_CTE
    + f"""
, q AS (
  SELECT vec_id, [{km.Q_COLS_SQL}] AS qv FROM e
)"""
    + _KPRM_CTE
    + _NPRM_CTE
    + _IVF_CENTS_SQL
    + f"""
, asg AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (
             PARTITION BY vec_id ORDER BY d ASC, cell) AS rn
    FROM (SELECT q.vec_id, c.cell, {km.dist_sql("q.qv", "c.cv")} AS d
          FROM q, {_IVF_CENTS_CTE} c)
  ) WHERE rn <= {IVF_ASSIGN}
)
"""
)

_IVF_SQL = (
    _IVF_CTE
    + f"""
, probes AS (
  SELECT query_id, cell FROM (
    SELECT q.vec_id AS query_id, c.cell,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {km.dist_sql("q.qv", "c.cv")} ASC, c.cell) AS rn
    FROM (SELECT * FROM q WHERE vec_id % {QMOD} = 0) q, {_IVF_CENTS_CTE} c
  ) WHERE rn <= (SELECT np FROM nprm)
), cand AS (
  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN asg a ON a.cell = p.cell AND a.vec_id <> p.query_id
)
"""
    + _scored_topk_sql("")
)


#: Above this cell count, centroid state stops riding the driver + task
#: closure (collect-and-close-over) and switches to the worker-side
#: sharded load (km.cells_udf_from_path) — KC = isqrt(n) crosses 16384
#: around n = 270M vectors, where the closure would be ~8 MB pickled
#: per task batch and the driver collect pure overhead (VERDICT r10
#: item 3).  Both paths run the SAME numpy kernel on the SAME
#: cell-ordered matrix; tests/test_large_kc_path.py pins equivalence.
KC_DRIVER_MAX = 16384


def load_cents(spark: SparkSession, cents_dir: str):
    """Stored centroids for assignment: a driver-side list below
    :data:`KC_DRIVER_MAX` (closure capture — cheapest at tested
    scales), else the parquet path itself (each worker loads the
    matrix; no driver collect).  Emptiness semantics are preserved:
    an empty index yields ``[]`` (falsy), the path branch only occurs
    for KC >= 16384 (truthy).

    The row count comes from parquet FOOTER metadata via
    :func:`km.parquet_dir_rows` (pyarrow.parquet, loaded at module
    import) — the previous mid-query ``import pyarrow.dataset`` here
    mapped a fresh native .so per driver process and died under the
    r12 driver sandbox's memory pressure, failing 10/50 gate queries
    (VERDICT r12 item 1).  The K-row read itself goes through
    :func:`km.read_parquet_dir` (pyarrow, same loaded module): the
    previous ``spark.read...collect()`` was a full Spark job + driver
    round-trip per serve invocation (~0.35 s each, r15 build profile)
    to fetch ~143 tiny rows at sf0.1."""
    if km.parquet_dir_rows(cents_dir) >= KC_DRIVER_MAX:
        return cents_dir
    tbl = km.read_parquet_dir(cents_dir, ["cell", "cv"]).to_pylist()
    tbl.sort(key=lambda r: r["cell"])
    return [[int(x) for x in r["cv"]] for r in tbl]


def _nearest_cells(
    q: DataFrame, cents, kk: int, meta: bool = False
) -> DataFrame:
    """(vec_id, cell) for each vector's ``kk`` nearest centroids (ties
    break to the smaller cell, matching the oracle's ORDER BY dist,
    cell) — one Arrow-batched kernel (km.cells_udf: the pre-r9 inlined
    centroid literals exceeded janino's method limit at K=20 x DIM=64
    and ran INTERPRETED), so cell assignment stays a MAP: no join, no
    vector shuffle.  With ``meta=True`` also emits ``d2`` (integer L2
    to the cell's centroid) and ``rn`` (1-based nearness slot) — the
    posting metadata the rebalance operator spills on.

    ``cents`` is either the centroid list (closure capture) or, above
    :data:`KC_DRIVER_MAX`, the cents parquet path (worker-side load —
    see :func:`load_cents`); the kernel and output are identical."""
    if isinstance(cents, str):
        # KC >= KC_DRIVER_MAX >> any kk we probe with, so no clamp
        k = kk
        cd = km.cells_udf_from_path(cents, k)(km._qarr())
    else:
        k = min(kk, len(cents))
        cd = km.cells_udf(cents, k)(km._qarr())
    ex = q.select("vec_id", cd.alias("cd")).select(
        "vec_id",
        F.posexplode(F.expr(f"slice(cd, 1, {k})")).alias("pos", "cell"),
        F.col("cd"),
    )
    if not meta:
        return ex.select("vec_id", "cell")
    return ex.select(
        "vec_id",
        "cell",
        F.expr(f"cd[pos + {k}]").alias("d2"),
        (F.col("pos") + 1).alias("rn"),
    )


# --- the IVF serve pipeline --------------------------------------------------
# Every IVF top-k serve composes the same three steps: _serve_front
# (probe the stored centroids), _candidates (postings join + dedup) and
# _scored_topk (exact re-rank).  Serves that other queries compose are
# plain ``_name`` builders: a catalog wrapper would run
# release_all_caches mid-query.


class _Front(NamedTuple):
    """What an IVF serve reads before its candidate join."""

    n: DataFrame  #: the :func:`_vectors` frame
    cents: object  #: :func:`load_cents` state
    qq: DataFrame  #: quantized query sample (vec_id + qv columns)
    probes: DataFrame  #: (query_id, cell)
    postings: DataFrame  #: the stored postings (vec_id, cell, ...)
    nrows: int  #: corpus row count


def _serve_front(
    spark: SparkSession,
    sf_dir: str,
    root: str,
    widen: int = 1,
    keep: F.Column | None = None,
) -> _Front | None:
    """Map the query sample (vec_id % QMOD == 0) to its
    ``widen · nprobe(n)`` nearest stored centroids of the index at
    ``root`` (the one K-row centroid read; the probe is a map).  ``keep``
    is a vec_id predicate applied to both the queries and the postings
    (tombstones).  None on an empty index."""
    n = _vectors(spark, sf_dir)
    cents = load_cents(spark, f"{root}/cents")
    if not cents:
        return None
    postings = spark.read.parquet(f"{root}/asg")
    q = n.filter(F.col("vec_id") % QMOD == 0)
    if keep is not None:
        postings, q = postings.filter(keep), q.filter(keep)
    qq = km.quantize(q.select("vec_id", "v"))
    nrows = _nrows(n)
    probes = _nearest_cells(
        qq, cents, widen * nprobe(nrows)
    ).withColumnRenamed("vec_id", "query_id")
    return _Front(n, cents, qq, probes, postings, nrows)


def _candidates(
    probes: DataFrame, postings: DataFrame, widen: int = 1
) -> DataFrame:
    """Distinct (query_id, neighbor_id) pairs that share a probed cell,
    the query itself excluded: a pair meets once per shared cell, so
    both engines dedup before the exact re-rank.

    The dedup exchange is pinned (:func:`_pin`) for plain nprobe probes
    only (r16, measured both ways).  Plain: a pair repeats at most
    IVF_ASSIGN times, and the stage after the dedup evaluates the
    unrolled cosine / L2 fold on every candidate — compute-heavy,
    byte-light — which AQE's byte-based coalescing collapsed to 1-10
    tasks; the pin (1.2-1.75x) replaces the exchange, it adds none.
    Widened (``widen`` > 1: FILTER_WIDEN / filter_widen probes): the
    duplicate factor grows with the probe count, and the distinct's
    map-side partial aggregate below a coalesced exchange beats
    shuffling every duplicate through a pinned one (pinned 2.03-2.86 s
    vs unpinned 1.84-2.52 s) — the LSH band joins' reason."""
    nb = postings.withColumnRenamed("vec_id", "neighbor_id")
    cand = (
        probes.join(nb, "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
    )
    if widen == 1:
        cand = _pin(cand, "query_id", "neighbor_id")
    return cand.distinct()


#: process-lifetime cache of built IVF indexes — train-once/serve-many,
#: like a production ANN service (VERDICT-r7 item 5); lock + source-
#: mtime keyed via feeds.cached_index_path (ADVICE r8).
_IVF_INDEX: dict = {}


def ivf_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per process per sf) the persisted IVF index:
    ``cents/`` (cell, cv) — the K trained Lloyd centroids — and
    ``asg/`` (vec_id, cell) — the multi-assignment postings table.
    At 100 TB the postings table is additionally bucketed/partitioned
    BY cell so a probe reads only its cells' files."""

    def build(root: str) -> None:
        n = _vectors(spark, sf_dir)
        q = km.quantize(n.select("vec_id", "v")).persist()
        cents = km.seed_cents(q, ivf_kc(q.count()))
        if cents:
            cents_t = km.lloyd_train(q, cents, IVF_ITERS)
            # postings carry d2 + slot since r10: the rebalance
            # operator spills on stored metadata instead of
            # re-assigning the corpus (8+ bytes/posting, the standard
            # IVF posting payload trade)
            asg = _nearest_cells(q, cents_t, IVF_ASSIGN, meta=True)
        else:  # empty corpus: schema-stable empty index
            cents_t = []
            asg = spark.createDataFrame(
                [], "vec_id bigint, cell bigint, d2 bigint, rn int"
            )
        cdf = spark.createDataFrame(
            [(j, cv) for j, cv in enumerate(cents_t)],
            "cell bigint, cv array<bigint>",
        )
        cdf.coalesce(1).write.mode("overwrite").parquet(f"{root}/cents")
        asg.write.mode("overwrite").parquet(f"{root}/asg")
        # corpus stats the FILTERED serves need for probe widening —
        # measured once at build time (the one corpus scan the build
        # already pays) and persisted as index metadata, exactly like
        # the centroids: the serves previously re-measured the rare-
        # label cardinality with a distinct().count() job on EVERY
        # invocation (~0.7 s each, two serves in the fused pipeline —
        # r15 build profile).  Production ANN indexes carry their
        # stats; re-deriving model state per query is not the serve
        # shape.
        nlab = (
            q.select((F.col("vec_id") % RARE_MOD).alias("r"))
            .distinct()
            .count()
        )
        spark.createDataFrame(
            [("n_rare_labels", int(nlab))], "key string, value bigint"
        ).coalesce(1).write.mode("overwrite").parquet(f"{root}/stats")
        q.unpersist()

    from spark_dns_spark.plans.feeds import cached_index_path  # noqa: PLC0415

    return cached_index_path(
        _IVF_INDEX, sf_dir, "embeddings.parquet", build, name="ivf"
    )


@register(
    "similarity_ivf_build",
    _IVF_CTE + "SELECT vec_id, cell FROM asg",
    doc=f"IVF index BUILD: the persisted postings table (vec_id -> its "
    f"{IVF_ASSIGN} nearest of the corpus-scaled KC (ivf_kc: "
    "isqrt(n), floor 20) Lloyd cells) that "
    "similarity_topk_ivf serves from; built once per process and "
    "written to parquet (ivf_index_path), so queries retrain nothing",
    tags=("similarity", "ivf"),
)
def similarity_ivf_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = ivf_index_path(spark, sf_dir)
    return spark.read.parquet(f"{root}/asg").select("vec_id", "cell")


#: Incremental-batch membership for the ANN index (mirrors the dedup
#: side's doc_id%10==7 crawl-batch convention): vec_id % 10 == 7 is
#: "the new embedding batch", everything else is the already-indexed
#: base corpus.
UP_MOD, UP_REM = 10, 7

#: process-lifetime cache of the BASE-corpus IVF index (centroids
#: trained WITHOUT the new batch — the state a production index is in
#: when a new batch arrives).
_IVF_BASE_INDEX: dict = {}


def ivf_base_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per process per sf) the base-corpus IVF index:
    Lloyd centroids trained on vec_id % UP_MOD != UP_REM only, plus
    that base corpus's multi-assignment postings."""

    def build(root: str) -> None:
        n = _vectors(spark, sf_dir)
        qb = km.quantize(
            n.filter((F.col("vec_id") % UP_MOD) != UP_REM).select(
                "vec_id", "v"
            )
        ).persist()
        cents = km.seed_cents(qb, ivf_kc(qb.count()))
        if cents:
            cents = km.lloyd_train(qb, cents, IVF_ITERS)
            # meta (d2, rn) since r11: the upsert-rebalance fixpoint
            # spills on stored posting metadata, like the main index
            asg = _nearest_cells(qb, cents, IVF_ASSIGN, meta=True)
        else:
            asg = spark.createDataFrame(
                [], "vec_id bigint, cell bigint, d2 bigint, rn int"
            )
        cdf = spark.createDataFrame(
            [(j, cv) for j, cv in enumerate(cents)],
            "cell bigint, cv array<bigint>",
        )
        cdf.coalesce(1).write.mode("overwrite").parquet(f"{root}/cents")
        asg.write.mode("overwrite").parquet(f"{root}/asg")
        # base-corpus size as index metadata (the stats convention of
        # the main index, r15): the rebalance serve re-measured it
        # with a count_if scan job on every invocation
        spark.createDataFrame(
            [("n_vectors", int(qb.count()))], "key string, value bigint"
        ).coalesce(1).write.mode("overwrite").parquet(f"{root}/stats")
        qb.unpersist()

    from spark_dns_spark.plans.feeds import cached_index_path  # noqa: PLC0415

    return cached_index_path(
        _IVF_BASE_INDEX, sf_dir, "embeddings.parquet", build,
        name="ivf_base",
    )


_IVF_UPSERT_SQL = (
    f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), qa AS (
  SELECT vec_id, [{km.Q_COLS_SQL}] AS qv FROM e
), q AS (
  SELECT * FROM qa WHERE vec_id % {UP_MOD} <> {UP_REM}
)"""
    + _KPRM_CTE
    + _NPRM_CTE
    + _IVF_CENTS_SQL
    + f"""
, asgall AS (
  SELECT vec_id, cell FROM (
    SELECT qa.vec_id, c.cell,
           row_number() OVER (
             PARTITION BY qa.vec_id
             ORDER BY {km.dist_sql("qa.qv", "c.cv")} ASC, c.cell) AS rn
    FROM qa, {_IVF_CENTS_CTE} c
  ) WHERE rn <= {IVF_ASSIGN}
)
SELECT vec_id, cell,
       CASE WHEN vec_id % {UP_MOD} = {UP_REM} THEN 1 ELSE 0 END AS is_new
FROM asgall
"""
)


@register(
    "similarity_ivf_upsert",
    _IVF_UPSERT_SQL,
    doc=f"INCREMENTAL ANN index maintenance (VERDICT r8 item 5, the "
    "dedup_minhash_incremental twin for the similarity side): the base "
    f"corpus's IVF index (centroids + postings, trained without the "
    f"new batch vec_id%{UP_MOD}=={UP_REM}) is a persisted parquet "
    "index (ivf_base_index_path); a new embedding batch quantizes and "
    "assigns ITS vectors to the STORED centroids (a K-row model "
    "collect + map-only codegen argmin — batch cost proportional to "
    "|delta|) and appends; the merged postings equal a from-scratch "
    "assign-all over the same centroids (tests/test_ivf_upsert.py "
    "proves byte-identity + one stored-postings scan).  Oracle = "
    "train-on-base then assign-everything",
    tags=("similarity", "ivf", "incremental"),
)
def similarity_ivf_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = ivf_base_index_path(spark, sf_dir)
    cents = load_cents(spark, f"{root}/cents")
    base = (
        spark.read.parquet(f"{root}/asg")
        .select("vec_id", "cell")
        .withColumn("is_new", F.lit(0))
    )
    if not cents:
        return base
    # Δ only: the batch predicate pushes into the parquet scan, so this
    # lineage quantizes ONLY the new vectors; assignment is the same
    # codegen argmin the build used, against the STORED centroids.
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    qd = km.quantize(
        e.filter((F.col("vec_id") % UP_MOD) == UP_REM).select("vec_id", "v")
    )
    dasg = _nearest_cells(qd, cents, IVF_ASSIGN).withColumn(
        "is_new", F.lit(1)
    )
    return base.unionByName(dasg)


#: Tombstone batch for the DELETE half of index maintenance (the adds
#: half is UP_REM): vec_id % 10 == 3 is "the batch a user deleted".
DEL_REM = 3

_IVF_DELETE_SQL = (
    _BASE_CTE
    + f"""
, q AS (
  SELECT vec_id, [{km.Q_COLS_SQL}] AS qv FROM e
)"""
    + _KPRM_CTE
    + _NPRM_CTE
    + _IVF_CENTS_SQL
    + f"""
, asg AS (
  SELECT vec_id, cell FROM (
    SELECT q.vec_id, c.cell,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {km.dist_sql("q.qv", "c.cv")} ASC, c.cell) AS rn
    FROM q, {_IVF_CENTS_CTE} c
  ) WHERE rn <= {IVF_ASSIGN}
    AND vec_id % {UP_MOD} <> {DEL_REM}
), probes AS (
  SELECT query_id, cell FROM (
    SELECT q.vec_id AS query_id, c.cell,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {km.dist_sql("q.qv", "c.cv")} ASC, c.cell) AS rn
    FROM (SELECT * FROM q WHERE vec_id % {QMOD} = 0
            AND vec_id % {UP_MOD} <> {DEL_REM}) q, {_IVF_CENTS_CTE} c
  ) WHERE rn <= (SELECT np FROM nprm)
), cand AS (
  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN asg a ON a.cell = p.cell AND a.vec_id <> p.query_id
)
"""
    + _scored_topk_sql("")
)


@register(
    "similarity_ivf_delete_serve",
    _IVF_DELETE_SQL,
    doc="the DELETE half of index maintenance (the upsert family covers "
    f"adds): a tombstoned batch (vec_id%{UP_MOD}=={DEL_REM}) is removed "
    "from the STORED postings by an anti-join — the model (centroids) "
    "stays as trained, the production reality between retrains — and "
    "the serve proves it at the QUERY output: top-k from the pruned "
    "postings hash-equals a serve over postings rebuilt by assigning "
    "only the survivors to the same centroids (assignment is a "
    "deterministic per-vector map, so prune-after == assign-survivors; "
    "deleted vectors can neither be queries nor be returned).  Probe "
    "width stays derived from the stored model's corpus size.  Scale "
    "shape: the tombstone anti-join is postings-sized and pushes the "
    "modulo filter to the postings scan; at 100 TB deletes batch into "
    "a bloom/broadcast anti-join per probe instead of a rewrite",
    tags=("similarity", "ivf", "incremental"),
)
def similarity_ivf_delete_serve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    f = _serve_front(
        spark, sf_dir, ivf_index_path(spark, sf_dir),
        keep=(F.col("vec_id") % UP_MOD) != DEL_REM,
    )
    if f is None:
        return _empty_topk(_vectors(spark, sf_dir))
    return _scored_topk(f.n, _candidates(f.probes, f.postings))


@register(
    "similarity_topk_ivf",
    _IVF_SQL,
    doc=f"IVF ANN serving from the PREBUILT index: coarse cells = "
    f"integer-exact Lloyd k-means (corpus-scaled k=isqrt(n), "
    f"{IVF_ITERS} iters) and "
    f"the {IVF_ASSIGN}-way multi-assignment postings are read from the "
    f"parquet index (ivf_index_path — train-once/serve-many); queries "
    "probe ceil(log2 n) of the ~sqrt(n) cells, so per-query scan cost "
    "is ~sqrt(n)*log(n) postings — a fraction that SHRINKS as "
    "the corpus grows; at 100 TB the cell is the partition key so a "
    "query reads only its probed cells' files",
    tags=("similarity", "ivf"),
)
def similarity_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ivf_topk(spark, sf_dir)


def _ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve top-k from the stored index: collect the K centroid rows
    (the one whitelisted K-row driver collect), map queries to their
    nprobe(n) cells in pure codegen, join the postings parquet."""
    f = _serve_front(spark, sf_dir, ivf_index_path(spark, sf_dir))
    if f is None:
        return _empty_topk(_vectors(spark, sf_dir))
    return _scored_topk(f.n, _candidates(f.probes, f.postings))


def _ivf_topk_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r7 fused plan (train + assign + probe in one lineage) — kept
    unregistered as the equivalence reference for the stored index
    (tests/test_ivf_index.py proves byte-identical results)."""
    n = _vectors(spark, sf_dir)
    q = km.quantize(n.select("vec_id", "v")).persist()
    cents = km.seed_cents(q, ivf_kc(q.count()))
    if not cents:
        return _empty_topk(n)
    cents = km.lloyd_train(q, cents, IVF_ITERS)
    probes = _nearest_cells(
        q.filter(F.col("vec_id") % QMOD == 0), cents, nprobe(q.count())
    ).withColumnRenamed("vec_id", "query_id")
    return _scored_topk(
        n, _candidates(probes, _nearest_cells(q, cents, IVF_ASSIGN))
    )


@register(
    "dedup_embedding_cosine",
    _SIG_CTE
    + f"""
, cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM sx a JOIN sx b ON b.band_key = a.band_key AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, cosine FROM (
  SELECT id_a, id_b,
         round({sim.dot_sql("a.v", "b.v")} / (a.nm * b.nm), 4) AS cosine
  FROM cand JOIN n a ON a.vec_id = id_a
            JOIN n b ON b.vec_id = id_b
) WHERE cosine >= {COS_T}
""",
    doc=f"embedding-cosine near-dup pairs (cosine >= {COS_T}) via "
    "scale-adaptive hyperplane-LSH buckets (bucket space ~ n/16 per "
    "band) — never all-pairs; completes the dedup suite's embedding "
    "tier",
    tags=("dedup", "similarity", "lsh"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _vectors(spark, sf_dir)
    rpb, planes = _lsh_geometry(spark, sf_dir)
    # Arrow-batched signatures, persisted at the fan-out (same rule as
    # similarity_topk_lsh: both sides of the band self-join share one
    # computation).
    sx = n.select(
        "vec_id",
        F.explode(
            sim.band_keys_arrow(F.col("v"), planes, rpb)
        ).alias("band_key"),
    ).persist()
    # NO parallelism pin here (r16 negative result — see _lsh_topk):
    # pre-distinct pinning shuffles every per-band duplicate, and the
    # post-distinct extra exchange measured 20-40% slower than the
    # AQE-coalesced shape (interleaved A/B {2.9, 3.2} pinned vs
    # {2.7, 2.2} unpinned) — the gather kernel is memory-bandwidth-
    # bound, so spreading it over more tasks buys nothing.
    cand = (
        sx.alias("a")
        .join(
            sx.alias("b"),
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b")
        )
        .distinct()
    )
    # strategy="gather": this is the catalog's pair-heaviest attach
    # (~888k candidate pairs at sf0.1 arriving through the distinct's
    # AQE-coalesced exchange) — the numpy SIMD fold beats the codegen
    # per-row dot 5-10x per core on exactly this shape (measured r15:
    # 1.5-3.4 s vs 10.7-13.3 s; see attach_cosine's docstring).
    return (
        sim.attach_cosine(cand, n, "id_a", "id_b", strategy="gather")
        .withColumn("cosine", F.round(F.col("cosine"), 4))
        .filter(F.col("cosine") >= COS_T)
        .select("id_a", "id_b", "cosine")
    )


# --- SemDeDup-style semantic dedup (r12) --------------------------------------

_SEMDEDUP_SQL = (
    _BASE_CTE
    + f"""
, q AS (
  SELECT vec_id, [{km.Q_COLS_SQL}] AS qv FROM e
)"""
    + _KPRM_CTE
    + _IVF_CENTS_SQL
    + f"""
, sd1 AS (
  SELECT vec_id, cell, d2 FROM (
    SELECT q.vec_id, c.cell, {km.dist_sql("q.qv", "c.cv")} AS d2,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {km.dist_sql("q.qv", "c.cv")} ASC, c.cell) AS rn
    FROM q, {_IVF_CENTS_CTE} c
  ) WHERE rn = 1
), pr AS (
  SELECT x.vec_id AS id_a, y.vec_id AS id_b,
         x.d2 AS d2_a, y.d2 AS d2_b
  FROM sd1 x JOIN sd1 y ON y.cell = x.cell AND x.vec_id < y.vec_id
), nd AS (
  SELECT id_a, id_b, d2_a, d2_b FROM (
    SELECT pr.*,
           round({sim.dot_sql("a.v", "b.v")} / (a.nm * b.nm), 4) AS cosine
    FROM pr JOIN n a ON a.vec_id = pr.id_a
            JOIN n b ON b.vec_id = pr.id_b
  ) WHERE cosine >= {COS_T}
), dropped AS (
  SELECT DISTINCT CASE WHEN d2_a < d2_b
                         OR (d2_a = d2_b AND id_a > id_b)
                  THEN id_a ELSE id_b END AS vec_id
  FROM nd
)
SELECT sd1.vec_id, sd1.cell, sd1.d2,
       CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS kept
FROM sd1 LEFT JOIN dropped d ON d.vec_id = sd1.vec_id
"""
)


@register(
    "dedup_semantic_semdedup",
    _SEMDEDUP_SQL,
    doc="SemDeDup-style semantic dedup (Abbas et al. 2023, "
    "arXiv:2303.09540): cluster the corpus into the stored IVF index's "
    "Lloyd cells (nearest-1 assignment read straight from the persisted "
    "postings — rn=1 rows of ivf_index_path's asg), then WITHIN each "
    f"cell drop any item that has a near-dup (cosine >= {COS_T}) with "
    "strictly higher keep-priority; priority keeps the item FARTHEST "
    "from its centroid (the paper's keep-low-centroid-similarity rule) "
    "as the exact integer pair (d2 DESC, vec_id ASC) over the stored "
    "integer L2 posting metadata — every drop decision compares "
    "integers, identically in both engines.  Emits the full per-item "
    "decision table (vec_id, cell, d2, kept).  Scale shape: the "
    "pairwise stage is a within-cell self-join — quadratic only inside "
    "a cell, and the cell-maintenance fixpoint caps cell size at "
    "9/8*mean, so pair work per cell is bounded and pairs never leave "
    "their cell partition; the corpus embeddings are touched only by "
    "the two id-keyed cosine gathers (twelfth dedup family: the "
    "cluster-then-prune semantic tier)",
    tags=("dedup", "similarity", "semantic"),
)
def dedup_semantic_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _vectors(spark, sf_dir)
    root = ivf_index_path(spark, sf_dir)
    a1 = (
        spark.read.parquet(f"{root}/asg")
        .filter(F.col("rn") == 1)
        .select("vec_id", "cell", "d2")
    )
    pr = (
        a1.alias("x")
        .join(
            a1.alias("y"),
            (F.col("y.cell") == F.col("x.cell"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(
            F.col("x.vec_id").alias("id_a"),
            F.col("y.vec_id").alias("id_b"),
            F.col("x.d2").alias("d2_a"),
            F.col("y.d2").alias("d2_b"),
        )
    )
    nd = (
        sim.attach_cosine(pr, n, "id_a", "id_b")
        .withColumn("cosine", F.round(F.col("cosine"), 4))
        .filter(F.col("cosine") >= COS_T)
    )
    dropped = nd.select(
        F.when(
            (F.col("d2_a") < F.col("d2_b"))
            | (
                (F.col("d2_a") == F.col("d2_b"))
                & (F.col("id_a") > F.col("id_b"))
            ),
            F.col("id_a"),
        )
        .otherwise(F.col("id_b"))
        .alias("vec_id")
    ).distinct()
    return a1.join(
        dropped.withColumn("is_drop", F.lit(1)), "vec_id", "left"
    ).select(
        "vec_id",
        "cell",
        "d2",
        F.when(F.col("is_drop").isNull(), F.lit(1))
        .otherwise(F.lit(0))
        .alias("kept"),
    )


_SEMDEDUP_INC_SQL = (
    _BASE_CTE
    + f"""
, qa AS (
  SELECT vec_id, [{km.Q_COLS_SQL}] AS qv FROM e
), q AS (
  SELECT * FROM qa WHERE vec_id % {UP_MOD} <> {UP_REM}
)"""
    + _KPRM_CTE
    + _IVF_CENTS_SQL
    + f"""
, sb1 AS (
  SELECT vec_id, cell FROM (
    SELECT q.vec_id, c.cell,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {km.dist_sql("q.qv", "c.cv")} ASC, c.cell) AS rn
    FROM q, {_IVF_CENTS_CTE} c
  ) WHERE rn = 1
), sd1 AS (
  SELECT vec_id, cell, d2 FROM (
    SELECT dq.vec_id, c.cell, {km.dist_sql("dq.qv", "c.cv")} AS d2,
           row_number() OVER (
             PARTITION BY dq.vec_id
             ORDER BY {km.dist_sql("dq.qv", "c.cv")} ASC, c.cell) AS rn
    FROM (SELECT * FROM qa WHERE vec_id % {UP_MOD} = {UP_REM}) dq,
         {_IVF_CENTS_CTE} c
  ) WHERE rn = 1
), vb AS (
  SELECT DISTINCT a.vec_id
  FROM sd1 a JOIN sb1 b ON b.cell = a.cell
  JOIN n na ON na.vec_id = a.vec_id
  JOIN n nb ON nb.vec_id = b.vec_id
  WHERE round({sim.dot_sql("na.v", "nb.v")} / (na.nm * nb.nm), 4)
        >= {COS_T}
), vd AS (
  SELECT DISTINCT x.vec_id
  FROM sd1 x JOIN sd1 y ON y.cell = x.cell AND y.vec_id <> x.vec_id
         AND (y.d2 > x.d2 OR (y.d2 = x.d2 AND y.vec_id < x.vec_id))
  JOIN n nx ON nx.vec_id = x.vec_id
  JOIN n ny ON ny.vec_id = y.vec_id
  WHERE round({sim.dot_sql("nx.v", "ny.v")} / (nx.nm * ny.nm), 4)
        >= {COS_T}
)
SELECT sd1.vec_id, sd1.cell, sd1.d2,
       CASE WHEN b.vec_id IS NULL AND d.vec_id IS NULL
       THEN 1 ELSE 0 END AS kept
FROM sd1 LEFT JOIN vb b ON b.vec_id = sd1.vec_id
         LEFT JOIN vd d ON d.vec_id = sd1.vec_id
"""
)


@register(
    "dedup_semantic_incremental",
    _SEMDEDUP_INC_SQL,
    doc="INCREMENTAL SemDeDup — the production crawl shape: dedup a "
    f"NEW embedding batch (vec_id%{UP_MOD}=={UP_REM}) against the "
    "STORED base-corpus IVF index without retraining anything.  The "
    "delta quantizes and nearest-1-assigns against the stored "
    "centroids (batch cost proportional to |delta|, same argmin "
    "kernel as the build); a delta item is dropped if its cell holds "
    f"a base member within cosine {COS_T} (the corpus always "
    "outranks an incoming duplicate) or a higher-keep-priority delta "
    "sibling (farther-from-centroid wins via the integer d2, ties to "
    "the smaller vec_id — the dedup_semantic_semdedup rule).  Emits "
    "the per-delta-item decision table (vec_id, cell, d2, kept).  "
    "Scale shape: the corpus is touched only through the stored "
    "nearest-1 postings; both pair stages are within-cell joins "
    "bounded by the fixpoint cell cap, and only the two id-keyed "
    "cosine gathers see vectors.  Oracle trains on the base and "
    "unrolls the same two dominance checks",
    tags=("dedup", "similarity", "semantic", "incremental"),
)
def dedup_semantic_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    n = _vectors(spark, sf_dir)
    root = ivf_base_index_path(spark, sf_dir)
    cents = load_cents(spark, f"{root}/cents")
    if not cents:
        return spark.createDataFrame(
            [], "vec_id bigint, cell bigint, d2 bigint, kept int"
        )
    b1 = (
        spark.read.parquet(f"{root}/asg")
        .filter(F.col("rn") == 1)
        .select(F.col("vec_id").alias("bid"), "cell")
    )
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    qd = km.quantize(
        e.filter((F.col("vec_id") % UP_MOD) == UP_REM).select("vec_id", "v")
    )
    d1 = _nearest_cells(qd, cents, 1, meta=True).select(
        "vec_id", "cell", "d2"
    )
    # delta-vs-base: any near-dup base member in the cell drops the
    # delta item (no priority — the already-indexed corpus wins)
    pb = d1.join(b1, "cell").select(
        F.col("vec_id").alias("id_a"), F.col("bid").alias("id_b")
    )
    vb = (
        sim.attach_cosine(pb, n, "id_a", "id_b")
        .withColumn("cosine", F.round(F.col("cosine"), 4))
        .filter(F.col("cosine") >= COS_T)
        .select(F.col("id_a").alias("vec_id"))
        .distinct()
    )
    # delta-vs-delta: the batch dedups against itself with the
    # batch-mode keep rule (d2 DESC, vec_id ASC wins)
    pd_ = (
        d1.alias("x")
        .join(
            d1.alias("y"),
            (F.col("y.cell") == F.col("x.cell"))
            & (F.col("y.vec_id") != F.col("x.vec_id"))
            & (
                (F.col("y.d2") > F.col("x.d2"))
                | (
                    (F.col("y.d2") == F.col("x.d2"))
                    & (F.col("y.vec_id") < F.col("x.vec_id"))
                )
            ),
        )
        .select(
            F.col("x.vec_id").alias("id_a"),
            F.col("y.vec_id").alias("id_b"),
        )
    )
    vd = (
        sim.attach_cosine(pd_, n, "id_a", "id_b")
        .withColumn("cosine", F.round(F.col("cosine"), 4))
        .filter(F.col("cosine") >= COS_T)
        .select(F.col("id_a").alias("vec_id"))
        .distinct()
    )
    dropped = vb.unionByName(vd).distinct().withColumn(
        "is_drop", F.lit(1)
    )
    return d1.join(dropped, "vec_id", "left").select(
        "vec_id",
        "cell",
        "d2",
        F.when(F.col("is_drop").isNull(), F.lit(1))
        .otherwise(F.lit(0))
        .alias("kept"),
    )


_SEMDEDUP_STREAM_SQL = (
    _BASE_CTE
    + f"""
, qa AS (
  SELECT vec_id, [{km.Q_COLS_SQL}] AS qv FROM e
), q AS (
  SELECT * FROM qa WHERE vec_id % {UP_MOD} <> {UP_REM}
)"""
    + _KPRM_CTE
    + _IVF_CENTS_SQL
    + f"""
, sb1 AS (
  SELECT vec_id, cell FROM (
    SELECT q.vec_id, c.cell,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {km.dist_sql("q.qv", "c.cv")} ASC, c.cell) AS rn
    FROM q, {_IVF_CENTS_CTE} c
  ) WHERE rn = 1
), sdd AS (
  SELECT vec_id, cell, d2,
         CAST((vec_id // {UP_MOD}) % 2 AS INT) AS wave
  FROM (
    SELECT dq.vec_id, c.cell, {km.dist_sql("dq.qv", "c.cv")} AS d2,
           row_number() OVER (
             PARTITION BY dq.vec_id
             ORDER BY {km.dist_sql("dq.qv", "c.cv")} ASC, c.cell) AS rn
    FROM (SELECT * FROM qa WHERE vec_id % {UP_MOD} = {UP_REM}) dq,
         {_IVF_CENTS_CTE} c
  ) WHERE rn = 1
), vb AS (
  SELECT DISTINCT a.vec_id
  FROM sdd a JOIN sb1 b ON b.cell = a.cell
  JOIN n na ON na.vec_id = a.vec_id
  JOIN n nb ON nb.vec_id = b.vec_id
  WHERE round({sim.dot_sql("na.v", "nb.v")} / (na.nm * nb.nm), 4)
        >= {COS_T}
), vs AS (
  SELECT DISTINCT x.vec_id
  FROM sdd x JOIN sdd y ON y.cell = x.cell AND y.wave = x.wave
         AND y.vec_id <> x.vec_id
         AND (y.d2 > x.d2 OR (y.d2 = x.d2 AND y.vec_id < x.vec_id))
  JOIN n nx ON nx.vec_id = x.vec_id
  JOIN n ny ON ny.vec_id = y.vec_id
  WHERE round({sim.dot_sql("nx.v", "ny.v")} / (nx.nm * ny.nm), 4)
        >= {COS_T}
), k0 AS (
  SELECT sdd.vec_id, cell FROM sdd
  LEFT JOIN vb ON vb.vec_id = sdd.vec_id
  LEFT JOIN vs ON vs.vec_id = sdd.vec_id
  WHERE wave = 0 AND vb.vec_id IS NULL AND vs.vec_id IS NULL
), vp AS (
  SELECT DISTINCT a.vec_id
  FROM (SELECT * FROM sdd WHERE wave = 1) a
  JOIN k0 b ON b.cell = a.cell
  JOIN n na ON na.vec_id = a.vec_id
  JOIN n nb ON nb.vec_id = b.vec_id
  WHERE round({sim.dot_sql("na.v", "nb.v")} / (na.nm * nb.nm), 4)
        >= {COS_T}
)
SELECT sdd.vec_id, sdd.cell, sdd.d2, sdd.wave,
       CASE WHEN vb.vec_id IS NULL AND vs.vec_id IS NULL
             AND vp.vec_id IS NULL
       THEN 1 ELSE 0 END AS kept
FROM sdd LEFT JOIN vb ON vb.vec_id = sdd.vec_id
         LEFT JOIN vs ON vs.vec_id = sdd.vec_id
         LEFT JOIN vp ON vp.vec_id = sdd.vec_id
"""
)


@register(
    "dedup_semantic_stream",
    _SEMDEDUP_STREAM_SQL,
    doc="CONTINUOUS semantic dedup at ingest — the crawl-firehose "
    "shape: the delta embedding batch arrives as a parquet file "
    "stream (two micro-batch waves under maxFilesPerTrigger=1, wave "
    f"= (vec_id div {UP_MOD}) mod 2); each wave assigns against the "
    "STORED base centroids (stateless Arrow argmin, cost "
    "proportional to the wave), probes the stored base postings PLUS "
    "the accumulated ADMITTED items of earlier waves, and emits its "
    "decision rows.  Semantics are arrival-ordered, the only thing "
    "an ingest pipeline can implement: an admitted item is never "
    "retro-dropped when a higher-priority near-dup arrives later "
    "(first-come-wins ACROSS waves), while WITHIN a wave the batch "
    "dominance rule applies (d2 DESC, vec_id ASC) and the corpus "
    "always outranks.  foreachBatch writes are idempotent (per-wave "
    "overwrite subdirs; a wave's probe excludes its own appendix).  "
    "The oracle unrolls both waves exactly — this differs from "
    "dedup_semantic_incremental's whole-batch dominance precisely "
    "where streaming must differ, and the pair of entries documents "
    "that gap.  Scale: per-wave cost is assignment + within-cell "
    "probes; the admitted index grows by exactly the wave's keeps",
    tags=("dedup", "similarity", "semantic", "incremental", "streaming"),
)
def dedup_semantic_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os  # noqa: PLC0415
    import shutil  # noqa: PLC0415

    from spark_dns_spark.plans.feeds import (  # noqa: PLC0415
        await_or_fail,
        scratch_dir,
        single_part_file,
    )

    empty_schema = "vec_id bigint, cell bigint, d2 bigint, wave int, kept int"
    idx_root = ivf_base_index_path(spark, sf_dir)
    cents = load_cents(spark, f"{idx_root}/cents")
    if not cents:
        return spark.createDataFrame([], empty_schema)

    root = scratch_dir("semdedup_stream_")
    src_dir = os.path.join(root, "src")
    os.makedirs(src_dir)
    delta = load_table(spark, sf_dir, "embeddings").filter(
        (F.col("vec_id") % UP_MOD) == UP_REM
    ).select("vec_id", "embedding")
    for i, half in enumerate(
        (
            delta.filter(F.expr(f"(vec_id div {UP_MOD}) % 2 = 0")),
            delta.filter(F.expr(f"(vec_id div {UP_MOD}) % 2 = 1")),
        )
    ):
        part_dir = os.path.join(root, f"half{i}")
        half.coalesce(1).write.parquet(part_dir)
        part = single_part_file(part_dir, f"dedup_semantic_stream half{i}")
        dst = os.path.join(src_dir, f"{i:02d}_wave.parquet")
        shutil.copy(part, dst)
        mt = os.stat(dst).st_mtime
        os.utime(dst, (mt - 10 * (1 - i), mt - 10 * (1 - i)))

    out = os.path.join(root, "out")
    acc = os.path.join(root, "acc")

    def _earlier(base_dir: str, batch_id: int) -> list[str]:
        if not os.path.isdir(base_dir):
            return []
        return [
            os.path.join(base_dir, d)
            for d in sorted(os.listdir(base_dir))
            if d.startswith("b") and d != f"b{batch_id}"
        ]

    #: dec's ACTUAL written schema, captured by the first process()
    #: call — the read-back below must not re-hardcode a second DDL
    #: that could drift from the physical types (ADVICE r13).
    written_schema: list = []

    def process(batch: DataFrame, batch_id: int) -> None:
        sp = batch.sparkSession
        nv = _vectors(sp, sf_dir)
        qd = km.quantize(
            batch.select(
                "vec_id", F.col("embedding").cast("array<double>").alias("v")
            )
        )
        d1 = _nearest_cells(qd, cents, 1, meta=True).select(
            "vec_id", "cell", "d2"
        ).persist()
        members = (
            sp.read.parquet(f"{idx_root}/asg")
            .filter(F.col("rn") == 1)
            .select(F.col("vec_id").alias("bid"), "cell")
        )
        prior = _earlier(acc, batch_id)
        if prior:
            members = members.unionByName(sp.read.parquet(*prior))
        pb = d1.join(members, "cell").select(
            F.col("vec_id").alias("id_a"), F.col("bid").alias("id_b")
        )
        v_ext = (
            sim.attach_cosine(pb, nv, "id_a", "id_b")
            .withColumn("cosine", F.round(F.col("cosine"), 4))
            .filter(F.col("cosine") >= COS_T)
            .select(F.col("id_a").alias("vec_id"))
            .distinct()
        )
        ps = (
            d1.alias("x")
            .join(
                d1.alias("y"),
                (F.col("y.cell") == F.col("x.cell"))
                & (F.col("y.vec_id") != F.col("x.vec_id"))
                & (
                    (F.col("y.d2") > F.col("x.d2"))
                    | (
                        (F.col("y.d2") == F.col("x.d2"))
                        & (F.col("y.vec_id") < F.col("x.vec_id"))
                    )
                ),
            )
            .select(
                F.col("x.vec_id").alias("id_a"),
                F.col("y.vec_id").alias("id_b"),
            )
        )
        v_sib = (
            sim.attach_cosine(ps, nv, "id_a", "id_b")
            .withColumn("cosine", F.round(F.col("cosine"), 4))
            .filter(F.col("cosine") >= COS_T)
            .select(F.col("id_a").alias("vec_id"))
            .distinct()
        )
        dropped = v_ext.unionByName(v_sib).distinct().withColumn(
            "is_drop", F.lit(1)
        )
        dec = d1.join(dropped, "vec_id", "left").select(
            "vec_id",
            "cell",
            "d2",
            F.expr(f"CAST((vec_id div {UP_MOD}) % 2 AS INT)").alias("wave"),
            F.when(F.col("is_drop").isNull(), F.lit(1))
            .otherwise(F.lit(0))
            .alias("kept"),
        ).persist()
        if not written_schema:
            written_schema.append(dec.schema)
        dec.write.mode("overwrite").parquet(os.path.join(out, f"b{batch_id}"))
        # publish ADMITTED items AFTER probing: a retried wave never
        # sees its own appendix, and overwrite keeps it idempotent
        dec.filter(F.col("kept") == 1).select(
            F.col("vec_id").alias("bid"), "cell"
        ).write.mode("overwrite").parquet(os.path.join(acc, f"b{batch_id}"))
        dec.unpersist()
        d1.unpersist()

    physical = spark.read.parquet(src_dir).schema
    q = (
        spark.readStream.schema(physical)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(root, ".ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_or_fail(q, 300)
    batch_outs = [
        os.path.join(out, d)
        for d in sorted(os.listdir(out))
        if d.startswith("b")
    ] if os.path.isdir(out) else []
    if not batch_outs:
        return spark.createDataFrame([], empty_schema)
    # explicit schema: batch dirs that exist but hold zero part files
    # (both waves empty at an untested scale factor) would otherwise
    # fail schema inference (ADVICE r12).  The schema is the one the
    # foreachBatch actually WROTE (captured above), falling back to
    # the module DDL only if no batch ran — so a physical-type change
    # in dec can never desynchronize the reader (ADVICE r13).
    schema = written_schema[0] if written_schema else empty_schema
    return spark.read.schema(schema).parquet(*batch_outs)


@register(
    "similarity_lsh_recall",
    f"""
WITH bf AS (
  SELECT query_id, neighbor_id FROM ({_BF_SQL})
), lsh AS (
  SELECT query_id, neighbor_id FROM ({_LSH_SQL})
)
SELECT bf.query_id,
       sum(CASE WHEN lsh.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         AS hits,
       (sum(CASE WHEN lsh.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         * {10000 // K})::BIGINT AS recall_e4
FROM bf LEFT JOIN lsh
  ON lsh.query_id = bf.query_id AND lsh.neighbor_id = bf.neighbor_id
GROUP BY bf.query_id
""",
    doc=f"self-measuring ANN quality: recall@{K} of the LSH tier against "
    "the exact brute-force ground truth, per query — 'measure, don't "
    "guess' as a first-class query, so banding-parameter changes are "
    "accountable to a number; integer-exact (hit counts, e4 recall)",
    tags=("similarity", "lsh", "metric"),
)
def similarity_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _recall(_bf_topk(spark, sf_dir), _lsh_topk(spark, sf_dir), K)


@register(
    "similarity_ivf_recall",
    f"""
WITH bf AS (
  SELECT query_id, neighbor_id FROM ({_BF_SQL})
), ivf AS (
  SELECT query_id, neighbor_id FROM ({_IVF_SQL})
)
SELECT bf.query_id,
       sum(CASE WHEN ivf.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         AS hits,
       (sum(CASE WHEN ivf.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         * {10000 // K})::BIGINT AS recall_e4
FROM bf LEFT JOIN ivf
  ON ivf.query_id = bf.query_id AND ivf.neighbor_id = bf.neighbor_id
GROUP BY bf.query_id
""",
    doc=f"self-measuring ANN quality for the IVF tier: recall@{K} "
    f"against the exact brute-force ground truth per query — the "
    f"accountability metric for the NPROBE=max({NPROBE_MIN}, ceil(log2 n)) probe budget, "
    "completing the measured-quality story for BOTH ANN index "
    "families (LSH already has similarity_lsh_recall); integer-exact",
    tags=("similarity", "ivf", "metric"),
)
def similarity_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _recall(_bf_topk(spark, sf_dir), _ivf_topk(spark, sf_dir), K)


# --- IVF-served range (radius) search ---------------------------------------

#: Radius for the range search, in the squared integer-L2 domain
#: (SCALE=1000 quantization): ~the densest 0.1% of all pairs at
#: sf0.01 — the "near-duplicate" band of this embedding space.
RANGE_R2 = 1_250_000

#: The serve's CTE chain and final SELECT, kept separate so the recall
#: oracle can hoist the serve into ONE ``rng`` CTE instead of pasting
#: the whole Lloyd-training chain twice (ADVICE r9: the duplicated
#: ~21KB subplan was the most memory-fragile oracle in the catalog —
#: the same class as the r8 PQ driver-gate OOM).
_RANGE_CTES = (
    _IVF_CTE
    + f"""
, probes AS (
  SELECT vec_id, cell FROM (
    SELECT q.vec_id, c.cell,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {km.dist_sql("q.qv", "c.cv")} ASC, c.cell) AS rn
    FROM q, {_IVF_CENTS_CTE} c
  ) WHERE rn <= (SELECT np FROM nprm)
), cand AS (
  SELECT DISTINCT least(p.vec_id, a.vec_id) AS id_a,
                  greatest(p.vec_id, a.vec_id) AS id_b
  FROM probes p JOIN asg a ON a.cell = p.cell AND a.vec_id <> p.vec_id
)"""
)

_RANGE_SELECT = f"""
SELECT id_a, id_b, {km.dist_sql("qa.qv", "qb.qv")} AS d2
FROM cand
JOIN q qa ON qa.vec_id = id_a
JOIN q qb ON qb.vec_id = id_b
WHERE {km.dist_sql("qa.qv", "qb.qv")} <= {RANGE_R2}
"""

_RANGE_SQL = _RANGE_CTES + _RANGE_SELECT


@register(
    "similarity_range_ivf",
    _RANGE_SQL,
    doc=f"IVF-served RANGE search (radius dedup): every vector is a "
    "query, its {np}/{kc} nearest stored cells are probed, and only "
    "co-probed candidates are distance-checked against the integer "
    f"radius R2={RANGE_R2} — the scale path for embedding near-dup "
    "(dedup_embedding_cosine is the brute/LSH formulation; THIS is "
    "what a 100 TB corpus runs: candidates come from the persisted "
    "cell-partitioned index, pair cost is sum of squared cell sizes "
    "probed, never |C|^2).  Serving reads the stored index "
    "(ivf_index_path — no per-invocation retrain); the oracle mirrors "
    "the identical index algebra so every emitted pair and distance "
    "is cross-engine exact".format(np="ceil(log2 n)", kc="isqrt(n)"),
    tags=("similarity", "ivf", "dedup"),
)
def similarity_range_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _range_pairs(spark, sf_dir)


#: Corpus-size crossover for the range serve's physical strategy
#: (r15, after the sf10 probe killed the pair-shuffle plan on disk).
#: Below: the candidate pair set is distinct'ed BEFORE the distance
#: filter — half the (interpreted) fold evaluations, at the price of
#: three pair-sized shuffles; at n = 20k those are ~0.5 GB and the
#: plan measured 1.5x faster than the in-stage one (33 vs 51 s at
#: sf1, interleaved A/B).  Above: pair-sized shuffles grow as
#: n * nprobe * cellsize ~ n^1.5 — ~26 GB of exchange input at
#: n = 200k, which spilled >60 GB and filled the disk — so the
#: vectors ride into the cell join and candidates are
#: distance-filtered IN-STAGE, never reaching an exchange.  The same
#: crossover logic AQE applies to broadcast-vs-shuffle joins, made
#: explicit because the deciding quantity (candidate volume) is
#: invisible to AQE's input-side stats.  Both paths emit identical
#: rows (tests/test_range_strategy.py pins equality).
RANGE_SHUFFLE_MAX = 50_000


def _range_pairs(
    spark: SparkSession, sf_dir: str, strategy: str | None = None
) -> DataFrame:
    """``strategy``: None = size-dispatch on :data:`RANGE_SHUFFLE_MAX`;
    'shuffle' / 'instage' force a path (tests)."""
    n = _vectors(spark, sf_dir)
    root = ivf_index_path(spark, sf_dir)
    cents = load_cents(spark, f"{root}/cents")
    if not cents:
        return spark.createDataFrame([], "id_a bigint, id_b bigint, d2 bigint")
    nv = _nrows(n)
    if strategy is None:
        strategy = "shuffle" if nv <= RANGE_SHUFFLE_MAX else "instage"
    q = km.quantize(n.select("vec_id", "v"))
    asg = spark.read.parquet(f"{root}/asg").withColumnRenamed("vec_id", "nb")
    probes = _nearest_cells(q, cents, nprobe(nv))
    # the HOF fold beats a 64-term unrolled expression here (measured
    # 2.7 s vs 19.3 s on the 1.3M-pair sf0.1 filter: the unrolled tree
    # pushes the post-join stage out of whole-stage codegen, while the
    # single interpreted fold stays cheap relative to the join)
    if strategy == "shuffle":
        # the symmetric twin of _candidates (plain nprobe probes, so
        # pinned by the same rule)
        cand = (
            _pin(
                probes.join(asg, "cell")
                .filter(F.col("vec_id") != F.col("nb"))
                .select(
                    F.least("vec_id", "nb").alias("id_a"),
                    F.greatest("vec_id", "nb").alias("id_b"),
                ),
                "id_a", "id_b",
            )
            .distinct()
        )
        qa = q.select(F.col("vec_id").alias("id_a"), km._qarr().alias("qa"))
        qb = q.select(F.col("vec_id").alias("id_b"), km._qarr().alias("qb"))
        d2 = F.expr(
            "aggregate(zip_with(qa, qb, (x, y) -> (x - y) * (x - y)), "
            "0L, (acc, e) -> acc + e)"
        )
        return (
            cand.join(qa, "id_a")
            .join(qb, "id_b")
            .withColumn("d2", d2)
            .filter(F.col("d2") <= RANGE_R2)
            .select("id_a", "id_b", "d2")
        )
    # 'instage': what shuffles is n*nprobe probe rows + n assignment
    # rows (each with one 64-int array, ~linear in n) and the radius
    # SURVIVORS' distinct — output-sized, never candidate-sized.  A
    # pair co-probed from both directions costs two distance
    # evaluations instead of one; that multiplicity is <= 2 (each
    # vector is a member of exactly one cell) and buys the exchange's
    # disappearance.
    qarr = q.select("vec_id", km._qarr().alias("qv"))
    probes_q = probes.join(qarr, "vec_id")
    members = asg.join(
        qarr.select(F.col("vec_id").alias("nb"), F.col("qv").alias("mv")),
        "nb",
    )
    d2 = F.expr(
        "aggregate(zip_with(qv, mv, (x, y) -> (x - y) * (x - y)), "
        "0L, (acc, e) -> acc + e)"
    )
    return (
        probes_q.join(members, "cell")
        .filter(F.col("vec_id") != F.col("nb"))
        .withColumn("d2", d2)
        .filter(F.col("d2") <= RANGE_R2)
        .select(
            F.least("vec_id", "nb").alias("id_a"),
            F.greatest("vec_id", "nb").alias("id_b"),
            "d2",
        )
        .distinct()
    )


@register(
    "similarity_range_recall",
    # the serve runs ONCE as the hoisted ``rng`` CTE; ``truth`` and
    # both ``served`` directions derive from single relations (the
    # serve's own ``q`` CTE doubles as the ground-truth vector source)
    _RANGE_CTES
    + f"""
, rng AS ({_RANGE_SELECT}
), truth AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id
  FROM q a JOIN q b ON b.vec_id <> a.vec_id
  WHERE a.vec_id % {QMOD} = 0
    AND {km.dist_sql("a.qv", "b.qv")} <= {RANGE_R2}
), served AS (
  -- both pair directions in ONE rng scan (a lateral [1,2] unnest):
  -- with rng referenced twice DuckDB re-evaluated the whole serve
  -- chain per branch and OOMed the memory-tight sf1 gate (15 GiB);
  -- single-reference runs it once — 75 s under a 14 GiB cap, vs OOM
  SELECT CASE WHEN d.i = 1 THEN id_a ELSE id_b END AS query_id,
         CASE WHEN d.i = 1 THEN id_b ELSE id_a END AS neighbor_id
  FROM rng, (SELECT unnest([1, 2]) AS i) d
)
SELECT t.query_id,
       count(*)::BIGINT AS truth_n,
       sum(CASE WHEN s.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         AS hits,
       CAST((sum(CASE WHEN s.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
             * 10000) // count(*) AS BIGINT) AS recall_e4
FROM truth t LEFT JOIN served s
  ON s.query_id = t.query_id AND s.neighbor_id = t.neighbor_id
GROUP BY t.query_id
""",
    doc=f"self-measuring quality for the IVF RANGE serve: per sampled "
    f"query (vec_id % {QMOD} = 0 — the bounded-ground-truth rule, the "
    "metric's cost must not scale with the corpus), exact brute range "
    f"neighbors within R2={RANGE_R2} vs the pairs the index-served "
    "search actually returned; recall_e4 is the accountability number "
    f"for the ceil(log2 n)-of-isqrt(n)-cells probe budget — every "
    "approximate "
    "serve in this catalog ships with the query that scores it "
    "(lsh/ivf/adc/ivfpq recall precedents)",
    tags=("similarity", "ivf", "metric"),
)
def similarity_range_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _vectors(spark, sf_dir)
    q = km.quantize(n.select("vec_id", "v"))
    qa = q.filter(F.col("vec_id") % QMOD == 0).select(
        F.col("vec_id").alias("query_id"), km._qarr().alias("qa")
    )
    qb = q.select(
        F.col("vec_id").alias("neighbor_id"), km._qarr().alias("qb")
    )
    d2 = F.expr(
        "aggregate(zip_with(qa, qb, (x, y) -> (x - y) * (x - y)), "
        "0L, (acc, e) -> acc + e)"
    )
    # Q-row query sample broadcast onto the corpus — the whitelisted
    # bounded brute-force class (this IS the ground-truth metric).
    truth = (
        qb.join(
            F.broadcast(qa),
            F.col("neighbor_id") != F.col("query_id"),
        )
        .withColumn("d2", d2)
        .filter(F.col("d2") <= RANGE_R2)
        .select("query_id", "neighbor_id")
    )
    pairs = _range_pairs(spark, sf_dir).select("id_a", "id_b")
    # Both pair directions from ONE scan of the serve subplan (r16):
    # the previous unionByName referenced `pairs` twice, so the plan
    # carried TWO copies of the whole range-serve subtree and executed
    # the probe/join/dedup chain twice per recall run.  The lateral
    # explode emits (a→b) and (b→a) from a single pass — the exact
    # single-reference trick the oracle text already uses for its
    # `served` CTE (where the double reference OOMed DuckDB's sf1
    # gate).  Same rows, same types.
    served = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("id_a").alias("query_id"),
                        F.col("id_b").alias("neighbor_id"),
                    ),
                    F.struct(
                        F.col("id_b").alias("query_id"),
                        F.col("id_a").alias("neighbor_id"),
                    ),
                )
            ).alias("p")
        )
        .select("p.query_id", "p.neighbor_id")
    )
    return _recall(truth, served)


@register(
    "similarity_ivf_cell_balance",
    _IVF_CTE
    + """
, szs AS MATERIALIZED (
  -- KC rows; referenced by rk/gl and the final histogram — without
  -- the hint DuckDB re-ran the Lloyd chain per consumer and OOMed
  -- the sf1 gate (the cell-split ext/post lesson)
  SELECT cell, count(*)::BIGINT AS sz FROM asg GROUP BY cell
), rk AS (
  SELECT sz, row_number() OVER (ORDER BY sz, cell) AS rn FROM szs
), gl AS (
  SELECT count(*)::BIGINT AS n_cells, min(sz)::BIGINT AS min_sz,
         max(sz)::BIGINT AS max_sz
  FROM szs
), md AS (
  SELECT sz AS median_sz FROM rk, gl WHERE rn = (n_cells + 1) // 2
)
SELECT sz AS cell_size, count(*)::BIGINT AS cells_at_size,
       gl.n_cells, gl.min_sz, gl.max_sz, md.median_sz,
       (gl.max_sz * 10000 // md.median_sz)::BIGINT AS skew_e4
FROM szs, gl, md
GROUP BY sz, gl.n_cells, gl.min_sz, gl.max_sz, md.median_sz
""",
    doc="cell-BALANCE accountability for the IVF index (VERDICT r9 "
    "item 5): the recall gates score result quality, but probe COST is "
    "governed by the size of the probed cells — one giant cell turns "
    "every probe that touches it into a near-scan.  This query reads "
    "the persisted postings (ivf_index_path), emits the per-cell-size "
    "histogram (cells_at_size per distinct postings count — the "
    "events_value_histogram precedent) and the global max/median "
    "skew ratio (skew_e4, integer-exact), making the corpus-scaled "
    "KC retune measurable and guarding against one-giant-cell "
    "regressions; sizes are POSTINGS per cell (multi-assignment: "
    "sum = IVF_ASSIGN x n).  All state past the postings scan is "
    "KC-row model-scale",
    tags=("similarity", "ivf", "metric"),
)
def similarity_ivf_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = ivf_index_path(spark, sf_dir)
    asg = spark.read.parquet(f"{root}/asg")
    sizes = asg.groupBy("cell").agg(F.count(F.lit(1)).alias("sz"))
    # Everything below aggregates KC ~ isqrt(n) rows — model-scale
    # state, so the single-partition window and 1-row broadcast joins
    # are the whitelisted bounded class (the kmeans/bloom precedent).
    ranked = sizes.withColumn(
        "rn", F.row_number().over(Window.orderBy("sz", "cell"))
    )
    glob = sizes.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.min("sz").alias("min_sz"),
        F.max("sz").alias("max_sz"),
    )
    med = (
        ranked.crossJoin(F.broadcast(glob))
        .filter(F.col("rn") == F.expr("(n_cells + 1) div 2"))
        .select(F.col("sz").alias("median_sz"))
    )
    hist = sizes.groupBy("sz").agg(F.count(F.lit(1)).alias("cells_at_size"))
    return (
        hist.crossJoin(F.broadcast(glob))
        .crossJoin(F.broadcast(med))
        .select(
            F.col("sz").alias("cell_size"),
            "cells_at_size",
            "n_cells",
            "min_sz",
            "max_sz",
            "median_sz",
            F.expr("max_sz * 10000 div median_sz").alias("skew_e4"),
        )
    )


# --- filtered ANN serve + oversized-cell rebalance ---------------------------

#: Probe widening for FILTERED serves: a selective filter starves the
#: probed cells of eligible candidates (only ~1/|labels| of postings
#: qualify), so the filtered serve probes FILTER_WIDEN x nprobe cells
#: — the standard production mitigation (FAISS/vector-DB selective-
#: filter practice: scale probes with filter selectivity).  Measured
#: filtered recall 1.00/1.00/0.96/0.80 at sf0.001/.01/.1/1 widened,
#: vs 0.87/0.84/0.73 at the first three unwidened;
#: similarity_filtered_recall is the accountability metric.
FILTER_WIDEN = 2

#: label count FILTER_WIDEN was tuned at (the corpus ``label`` column
#: is 10 uniform classes); rarer filters scale via :func:`filter_widen`.
FILTER_LBASE = 10

#: the rare-label tier's deterministic derivation (~1% selectivity):
#: ``vec_id % 100`` — 100 uniform classes; the modulus divides the
#: make_sf1 re-key offset, so per-copy residues are preserved at sf1.
RARE_MOD = 100


def index_stat(root: str, key: str, default: int = 0) -> int:
    """One value from a persisted index's ``stats/`` metadata parquet
    (pyarrow read — K rows, zero Spark jobs)."""
    rows = km.read_parquet_dir(f"{root}/stats", ["key", "value"]).to_pylist()
    return next(
        (int(r["value"]) for r in rows if r["key"] == key), default
    )


def rare_label_count(spark: SparkSession, sf_dir: str) -> int:
    """Distinct rare-label (``vec_id % RARE_MOD``) cardinality from the
    persisted IVF index's ``stats/`` metadata (written at build time —
    see :func:`ivf_index_path`): a pyarrow footer-sized read instead of
    the per-invocation ``distinct().count()`` job both filtered serves
    used to run (r15).  Clamped to >= 1 like the previous call sites."""
    root = ivf_index_path(spark, sf_dir)
    return max(index_stat(root, "n_rare_labels"), 1)


def filter_widen(n_labels: int) -> int:
    """Selectivity-scaled probe widening (VERDICT r10 item 7): probes
    grow with the SQUARE ROOT of the selectivity ratio vs the base
    tier — ``widen² ≈ FILTER_WIDEN² · L / FILTER_LBASE`` — pure
    integer isqrt, mirrored by the ``lprm`` oracle CTE.  Measured at
    sf1 on the 100-label tier: widen 2 → recall 0.665 (the base
    constant starves rare filters), widen 6 (this rule) → 0.976.
    At production KC (isqrt n) the widened probe set stays a vanishing
    fraction of cells — 6·log2(n) of isqrt(n); only at toy scales does
    it approach all-cells."""
    return max(
        FILTER_WIDEN,
        math.isqrt(
            (FILTER_WIDEN * FILTER_WIDEN * max(n_labels, 1)) // FILTER_LBASE
        ),
    )


def _label_prune(cand: DataFrame, n: DataFrame, label: F.Column) -> DataFrame:
    """Keep the candidate pairs whose two ends share ``label`` (a
    column over ``n``: ``label`` or ``vec_id % RARE_MOD``) — two skinny
    (id, label) joins BEFORE any vector is read for the re-rank; at
    scale the label rides the postings table."""
    return (
        cand.join(
            n.select(
                F.col("vec_id").alias("query_id"), label.alias("q_label")
            ),
            "query_id",
        )
        .join(
            n.select(
                F.col("vec_id").alias("neighbor_id"), label.alias("n_label")
            ),
            "neighbor_id",
        )
        .filter(F.col("n_label") == F.col("q_label"))
        .select("query_id", "neighbor_id")
    )


def _label_truth(n: DataFrame, label: F.Column) -> DataFrame:
    """Exact same-``label`` brute top-K over the query sample — the
    ground truth of the filtered recalls (the whitelisted bounded
    class: |Q| is corpus/QMOD)."""
    cand = (
        n.filter(F.col("vec_id") % QMOD == 0)
        .select(F.col("vec_id").alias("query_id"), label.alias("q_label"))
        .join(
            n.select(
                F.col("vec_id").alias("neighbor_id"), label.alias("n_label")
            ),
            F.col("n_label") == F.col("q_label"),
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
    )
    return _scored_topk(n, cand)


_FILTERED_SQL = (
    _IVF_CTE
    + f"""
, lab AS (
  SELECT vec_id, label FROM e
), probes AS (
  SELECT query_id, cell FROM (
    SELECT q.vec_id AS query_id, c.cell,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {km.dist_sql("q.qv", "c.cv")} ASC, c.cell) AS rn
    FROM (SELECT * FROM q WHERE vec_id % {QMOD} = 0) q, {_IVF_CENTS_CTE} c
  ) WHERE rn <= {FILTER_WIDEN} * (SELECT np FROM nprm)
), cand AS (
  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
  FROM probes p
  JOIN asg a ON a.cell = p.cell AND a.vec_id <> p.query_id
  JOIN lab lq ON lq.vec_id = p.query_id
  JOIN lab ln ON ln.vec_id = a.vec_id AND ln.label = lq.label
)
"""
    + _scored_topk_sql("")
)


@register(
    "similarity_topk_filtered",
    _FILTERED_SQL,
    doc="METADATA-FILTERED ANN serving — the production 'vector search "
    "within my tenant/category' shape: top-k cosine neighbors sharing "
    "the query's label, served from the stored IVF index.  The filter "
    "is applied AT THE POSTINGS JOIN (candidates drop ~1/|labels| "
    "BEFORE any vector distance is computed), not post-re-rank — at "
    "100 TB the label rides the postings table (or partitions it), so "
    "a filtered query reads probed-cell postings, prunes by label via "
    "a skinny join, and re-ranks only survivors; filtering after the "
    "top-k (the naive shape) would return fewer than k results and "
    "waste the re-rank on discarded pairs.  Exact-oracle: same index "
    "algebra + label equi-join in both engines",
    tags=("similarity", "ivf", "filtered"),
)
def similarity_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _filtered_topk(spark, sf_dir)


def _filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = ivf_index_path(spark, sf_dir)
    f = _serve_front(spark, sf_dir, root, FILTER_WIDEN)
    if f is None:
        return _empty_topk(_vectors(spark, sf_dir))
    cand = _candidates(f.probes, f.postings, FILTER_WIDEN)
    return _scored_topk(f.n, _label_prune(cand, f.n, F.col("label")))


#: Rebalance cap: 9/8 of the EXPECTED postings-per-cell — tight enough
#: that the heaviest cells spill at every tested SF (measured
#: max/median skew ~1.15-1.35x), exact-integer ceil division in both
#: engines.
CAP_NUM, CAP_DEN = 9, 8

_SPLIT_SQL = (
    _IVF_CTE
    + f"""
-- MATERIALIZED: ext/post feed two consumers each (kept + spill,
-- spill + demote-join); without the hint DuckDB re-evaluated the
-- whole Lloyd chain per consumer and OOMed at sf1 (measured 15 GiB
-- -> 20 s / <8 GiB with the hints)
, ext AS MATERIALIZED (
  SELECT vec_id, cell, d2, rn FROM (
    SELECT q.vec_id, c.cell, {km.dist_sql("q.qv", "c.cv")} AS d2,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {km.dist_sql("q.qv", "c.cv")} ASC, c.cell) AS rn
    FROM q, {_IVF_CENTS_CTE} c
  ) WHERE rn <= {2 * IVF_ASSIGN}
), post AS MATERIALIZED (
  SELECT vec_id, cell, d2,
         row_number() OVER (PARTITION BY cell ORDER BY d2, vec_id) AS crn
  FROM ext WHERE rn <= {IVF_ASSIGN}
), cprm AS (
  SELECT ({CAP_NUM} * {IVF_ASSIGN} * (SELECT count(*) FROM q)
          + {CAP_DEN} * kc - 1) // ({CAP_DEN} * kc) AS cap
  FROM kprm
), spill AS (
  SELECT vec_id, cell, d2,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS j
  FROM post WHERE crn > (SELECT cap FROM cprm)
)
SELECT p.vec_id, p.cell, 0 AS moved
FROM post p WHERE p.crn <= (SELECT cap FROM cprm)
UNION ALL
SELECT s.vec_id, x.cell, 1 AS moved
FROM spill s JOIN ext x
  ON x.vec_id = s.vec_id AND x.rn = {IVF_ASSIGN} + s.j
"""
)


@register(
    "similarity_ivf_cell_split",
    _SPLIT_SQL,
    doc="oversized-cell REBALANCE — the maintenance half of the "
    "cell-balance metric (VERDICT r9 item 2's 'split/cap oversized "
    "cells'): each cell's postings are capped at 9/8 of the expected "
    "size (exact ceil division); within-cell rank is by (distance to "
    "centroid, vec_id), so the FARTHEST members spill first, and each "
    "spilled posting demotes to the vector's next-nearest unused cell "
    "(slot IVF_ASSIGN + j from the same stored-model assignment order "
    "— a vector's demote targets never collide with its kept "
    "postings).  One compaction round, deterministic; production "
    "iterates to a fixpoint.  Serving reads the STORED index: the "
    "postings carry (d2, slot) since r10, so the cap scan is a "
    "postings-only window and demote targets are computed ONLY for "
    "the spilled vectors (delta-proportional, the upsert-family "
    "cost shape).  Output = the full rebalanced postings table with "
    "a moved flag; the oracle mirrors the identical algebra",
    tags=("similarity", "ivf", "maintenance"),
)
def similarity_ivf_cell_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _vectors(spark, sf_dir)
    root = ivf_index_path(spark, sf_dir)
    cents = load_cents(spark, f"{root}/cents")
    if not cents:
        return spark.createDataFrame(
            [], "vec_id bigint, cell bigint, moved int"
        )
    n_total = corpus_rows(sf_dir)  # footer metadata, no scan job
    # kc from the SAME derivation as the oracle's kprm CTE — len(cents)
    # would diverge for n < IVF_KC_MIN (k-means returns n cells) and the
    # demote join would silently drop spilled postings (ADVICE r10).
    # Minimum supported corpus: the split operator assumes every cell's
    # spill has IVF_ASSIGN*... demote targets available, which holds for
    # n >= 2*IVF_ASSIGN; testdata starts far above (sf0.001 ⇒ 600).
    kc = ivf_kc(n_total)
    if n_total < 2 * IVF_ASSIGN:  # not assert: stripped under -O
        raise ValueError(
            f"cell split needs >= {2 * IVF_ASSIGN} vectors, got {n_total}"
        )
    cap = (CAP_NUM * IVF_ASSIGN * n_total + CAP_DEN * kc - 1) // (
        CAP_DEN * kc
    )
    post = (
        spark.read.parquet(f"{root}/asg")
        .select("vec_id", "cell", "d2")
        .withColumn(
            "crn",
            F.row_number().over(
                Window.partitionBy("cell").orderBy("d2", "vec_id")
            ),
        )
    )
    kept = post.filter(F.col("crn") <= cap).select(
        "vec_id", "cell", F.lit(0).alias("moved")
    )
    spill = post.filter(F.col("crn") > cap).withColumn(
        "j",
        F.row_number().over(Window.partitionBy("vec_id").orderBy("d2", "cell")),
    )
    # demote targets: re-assign ONLY the spilled vectors against the
    # stored centroids (map over |spill| vectors, slots 1..2*ASSIGN)
    q = km.quantize(n.select("vec_id", "v"))
    # no pinned broadcast: the spill set is data-dependent (tiny under
    # a healthy cap, O(postings) if the index drifted badly) — AQE
    # picks the join strategy (the house rule for growing relations)
    overq = q.join(spill.select("vec_id").distinct(), "vec_id")
    ext = _nearest_cells(overq, cents, 2 * IVF_ASSIGN, meta=True)
    moved = (
        spill.alias("s")
        .join(
            ext.alias("x"),
            (F.col("x.vec_id") == F.col("s.vec_id"))
            & (F.col("x.rn") == F.col("s.j") + F.lit(IVF_ASSIGN)),
        )
        .select(
            F.col("s.vec_id").alias("vec_id"),
            F.col("x.cell").alias("cell"),
            F.lit(1).alias("moved"),
        )
    )
    return kept.unionByName(moved)


# --- cell maintenance to FIXPOINT (r11, VERDICT r10 item 6) -----------------
#
# One compaction round (similarity_ivf_cell_split) can overfill a
# NEIGHBORING cell with its demotions; production maintenance iterates
# spill->demote until no cell exceeds the cap.  Termination is
# structural: every demotion strictly increases that posting's
# per-vector slot number (a vector's demote targets are drawn from its
# nearest-cell ranking at slots its postings never used), so a posting
# can move at most SPLIT_EXT_DEPTH - IVF_ASSIGN times and total moves
# are bounded; measured rounds-to-fixpoint: 4 at sf0.01 (n=500, the
# worst case — tiny cells), 1 at sf0.1, 2 at sf1.  SPLIT_ROUNDS_MAX=6
# is asserted on the Spark side (the star-contraction convergence-guard
# precedent, q_cluster.star_contraction_components) and the oracle
# unrolls exactly that many rounds — a converged round is the identity
# (no spills), so extra unrolled rounds cannot change the result.

SPLIT_ROUNDS_MAX = 6
#: demote slots available per vector: the initial IVF_ASSIGN postings
#: can each spill at most once per round, so slots never exceed
#: IVF_ASSIGN * (rounds + 1); measured max slot used: 6 of 14.
SPLIT_EXT_DEPTH = IVF_ASSIGN * (SPLIT_ROUNDS_MAX + 1)


def _fix_rounds_sql(rounds: int) -> str:
    """The unrolled spill->demote round chain over CTEs ``st0``/``hw0``
    /``ext``/``cprm`` (caller supplies those), ending at ``st{rounds}``
    / ``hw{rounds}``.  MATERIALIZED where a CTE has two consumers —
    the ext/post cell-split lesson (DuckDB re-evaluates otherwise)."""
    parts = []
    for t in range(rounds):
        parts.append(f"""
, crn{t} AS MATERIALIZED (
  SELECT vec_id, cell, d2,
         row_number() OVER (PARTITION BY cell ORDER BY d2, vec_id) AS crn
  FROM st{t}
), sp{t} AS MATERIALIZED (
  SELECT vec_id, cell, d2,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS j
  FROM crn{t} WHERE crn > (SELECT cap FROM cprm)
), st{t + 1} AS (
  SELECT vec_id, cell, d2 FROM crn{t} WHERE crn <= (SELECT cap FROM cprm)
  UNION ALL
  SELECT s.vec_id, x.cell, x.d2
  FROM sp{t} s
  JOIN hw{t} h ON h.vec_id = s.vec_id
  JOIN ext x ON x.vec_id = s.vec_id AND x.rn = h.hw + s.j
), hw{t + 1} AS MATERIALIZED (
  SELECT h.vec_id, h.hw + coalesce(c.ns, 0) AS hw
  FROM hw{t} h
  LEFT JOIN (SELECT vec_id, count(*) AS ns FROM sp{t} GROUP BY vec_id) c
    ON c.vec_id = h.vec_id
)""")
    return "".join(parts)


_SPLIT_FIX_SQL = (
    _IVF_CTE
    + f"""
, ext AS MATERIALIZED (
  SELECT vec_id, cell, d2, rn FROM (
    SELECT q.vec_id, c.cell, {km.dist_sql("q.qv", "c.cv")} AS d2,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {km.dist_sql("q.qv", "c.cv")} ASC, c.cell) AS rn
    FROM q, {_IVF_CENTS_CTE} c
  ) WHERE rn <= {SPLIT_EXT_DEPTH}
), st0 AS MATERIALIZED (
  SELECT vec_id, cell, d2 FROM ext WHERE rn <= {IVF_ASSIGN}
), hw0 AS MATERIALIZED (
  SELECT vec_id, {IVF_ASSIGN} AS hw FROM q
), cprm AS MATERIALIZED (
  SELECT ({CAP_NUM} * {IVF_ASSIGN} * (SELECT count(*) FROM q)
          + {CAP_DEN} * kc - 1) // ({CAP_DEN} * kc) AS cap
  FROM kprm
)"""
    + _fix_rounds_sql(SPLIT_ROUNDS_MAX)
    + f"""
SELECT s.vec_id, s.cell,
       CASE WHEN b.vec_id IS NULL THEN 1 ELSE 0 END AS moved
FROM st{SPLIT_ROUNDS_MAX} s
LEFT JOIN st0 b ON b.vec_id = s.vec_id AND b.cell = s.cell
"""
)


def _split_to_fixpoint(spark, q, cents, st, cap, rounds_max=None,
                       total=None):
    """Iterate spill->demote rounds until no cell exceeds ``cap``.

    ``st`` is the postings table (vec_id, cell, d2); ``q`` the quantized
    corpus (demote targets are computed per round ONLY for that round's
    spilled vectors — delta-proportional, like the one-round operator).
    Per-vector high-water slots (``hw``) guarantee a vector's demote
    targets never collide with any posting it already holds.  Returns
    (final postings, rounds used).  A corpus converging on exactly the
    ``rounds_max``-th move IS a fixpoint (the oracle unrolls that many
    move rounds and returns it — ADVICE r11); only state still
    spilling after ``rounds_max`` moves raises.  Measured fixpoints
    are 1-4 rounds, so exhausting 6 means the cap/ext geometry broke,
    not a big corpus."""
    if rounds_max is None:
        rounds_max = SPLIT_ROUNDS_MAX
    if total is None:
        # callers that know the posting count from index metadata pass
        # it in (r15); the count job remains the fallback for foreign
        # state.  The conservation check below still counts every
        # round's OUTPUT — only the redundant input count is skipped.
        total = st.count()
    hw = None  # (vec_id, hw) for vectors that have ever spilled
    # Eager localCheckpoint, not persist: each round's state references
    # the previous round's ~3 times (kept + spill + spill counts), so
    # carrying lineage grows the LOGICAL plan ~3^rounds and OOMs the
    # driver during analysis (observed at round 6 even at sf0.001);
    # checkpointing truncates the plan each round.  Blocks are released
    # by release_all_caches after the result is consumed (it unpersists
    # surviving RDD blocks — the iterative-cluster-query pattern).
    st = st.localCheckpoint()
    for rnd in range(rounds_max):
        crn = st.withColumn(
            "crn",
            F.row_number().over(
                Window.partitionBy("cell").orderBy("d2", "vec_id")
            ),
        )
        sp = (
            crn.filter(F.col("crn") > cap)
            .withColumn(
                "j",
                F.row_number().over(
                    Window.partitionBy("vec_id").orderBy("d2", "cell")
                ),
            )
            .select("vec_id", "j")
            .persist()
        )
        if sp.count() == 0:
            sp.unpersist()
            return st, rnd
        spv = sp.select("vec_id").distinct()
        if hw is None:
            hwj = spv.withColumn("hw", F.lit(IVF_ASSIGN))
        else:
            hwj = spv.join(hw, "vec_id", "left").select(
                "vec_id",
                F.coalesce(F.col("hw"), F.lit(IVF_ASSIGN)).alias("hw"),
            )
        ext = _nearest_cells(
            q.join(spv, "vec_id"), cents, SPLIT_EXT_DEPTH, meta=True
        ).select(
            "vec_id",
            F.col("cell").alias("new_cell"),
            F.col("d2").alias("new_d2"),
            "rn",
        )
        sph = sp.join(hwj, "vec_id")
        moved = (
            sph.join(
                ext,
                (sph.vec_id == ext.vec_id)
                & (ext.rn == sph.hw + sph.j),
            )
            .select(
                sph.vec_id.alias("vec_id"),
                F.col("new_cell").alias("cell"),
                F.col("new_d2").alias("d2"),
            )
        )
        kept = crn.filter(F.col("crn") <= cap).select("vec_id", "cell", "d2")
        new_st = kept.unionByName(moved).localCheckpoint()  # eager
        n_new = new_st.count()
        if n_new != total:  # not assert: stripped under -O (ADVICE r11)
            raise RuntimeError(
                f"posting conservation broken in round {rnd}: {n_new} != "
                f"{total} — either a demote slot exceeded SPLIT_EXT_DEPTH, "
                "or the caller's arithmetic `total` no longer matches the "
                "input (rebalance derives it as stored-base footer rows + "
                "delta_count * min(IVF_ASSIGN, KC), which assumes "
                "_nearest_cells emits EXACTLY that many cells per vector "
                "— pinned by tests/test_r16_opt.py)"
            )
        cnts = sp.groupBy("vec_id").agg(F.count(F.lit(1)).alias("ns"))
        hw_new = hwj.join(cnts, "vec_id").select(
            "vec_id", (F.col("hw") + F.col("ns")).alias("hw")
        )
        hw = (
            hw_new
            if hw is None
            else hw.join(spv, "vec_id", "left_anti").unionByName(hw_new)
        ).localCheckpoint()  # eager — same plan-truncation reason
        sp.unpersist()
        st = new_st
    # The loop is check-then-move, so after rounds_max moves one final
    # check decides: a corpus converging on exactly the last move is a
    # fixpoint (the oracle unrolls that many move rounds and returns
    # it — ADVICE r11); only still-spilling state is an error.
    spilled = (
        st.withColumn(
            "crn",
            F.row_number().over(
                Window.partitionBy("cell").orderBy("d2", "vec_id")
            ),
        )
        .filter(F.col("crn") > cap)
        .count()
    )
    if spilled == 0:
        return st, rounds_max
    raise RuntimeError(
        f"cell split did not reach fixpoint in {rounds_max} rounds "
        "(measured corpora need 1-4) — cap/ext geometry bug, not scale"
    )


@register(
    "similarity_ivf_cell_split_fixpoint",
    _SPLIT_FIX_SQL,
    doc="cell REBALANCE iterated to FIXPOINT: the one-round operator "
    "(similarity_ivf_cell_split) can overfill a neighboring cell with "
    "its demotions; this entry repeats spill->demote until NO cell "
    "exceeds the 9/8 cap, with a convergence guard at "
    f"{SPLIT_ROUNDS_MAX} rounds (star-contraction precedent; measured "
    "fixpoint 1-4 rounds at sf0.01/0.1/1).  Per round, demote targets "
    "are computed only for that round's spilled vectors against the "
    "stored centroids (delta-proportional); per-vector high-water "
    "slots make every demotion strictly monotone, which is the "
    "termination proof.  The oracle unrolls the identical algebra "
    "the full 6 rounds — converged rounds are the identity, so the "
    "unroll length only has to be an upper bound.  Output = the "
    "rebalanced postings with a moved flag (moved postings never "
    "return to an earlier cell: slots only grow)",
    tags=("similarity", "ivf", "maintenance", "iterative"),
)
def similarity_ivf_cell_split_fixpoint(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    n = _vectors(spark, sf_dir)
    root = ivf_index_path(spark, sf_dir)
    cents = load_cents(spark, f"{root}/cents")
    if not cents:
        return spark.createDataFrame(
            [], "vec_id bigint, cell bigint, moved int"
        )
    n_total = corpus_rows(sf_dir)  # footer metadata, no scan job
    kc = ivf_kc(n_total)
    cap = (CAP_NUM * IVF_ASSIGN * n_total + CAP_DEN * kc - 1) // (
        CAP_DEN * kc
    )
    st0 = spark.read.parquet(f"{root}/asg").select("vec_id", "cell", "d2")
    q = km.quantize(n.select("vec_id", "v"))
    fin, _rounds = _split_to_fixpoint(
        spark, q, cents, st0, cap,
        total=km.parquet_dir_rows(f"{root}/asg"),  # footers, no job
    )
    orig = st0.select("vec_id", "cell", F.lit(1).alias("_orig"))
    return fin.join(orig, ["vec_id", "cell"], "left").select(
        "vec_id",
        "cell",
        F.when(F.col("_orig").isNull(), 1).otherwise(0).alias("moved"),
    )


#: The upsert-path wiring (balance metric -> split policy): the merged
#: base+delta postings are rebalanced to fixpoint and the output IS the
#: balance summary of the maintained index, with the cap alongside —
#: max_sz <= cap_sz is the bounded-skew guarantee under upserts
#: (gated by tests/test_cell_fixpoint.py).
_UPSERT_FIX_SQL = (
    f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), qa AS (
  SELECT vec_id, [{km.Q_COLS_SQL}] AS qv FROM e
), q AS (
  SELECT * FROM qa WHERE vec_id % {UP_MOD} <> {UP_REM}
)"""
    + _KPRM_CTE
    + _IVF_CENTS_SQL
    + f"""
, ext AS MATERIALIZED (
  SELECT vec_id, cell, d2, rn FROM (
    SELECT qa.vec_id, c.cell, {km.dist_sql("qa.qv", "c.cv")} AS d2,
           row_number() OVER (
             PARTITION BY qa.vec_id
             ORDER BY {km.dist_sql("qa.qv", "c.cv")} ASC, c.cell) AS rn
    FROM qa, {_IVF_CENTS_CTE} c
  ) WHERE rn <= {SPLIT_EXT_DEPTH}
), st0 AS MATERIALIZED (
  SELECT vec_id, cell, d2 FROM ext WHERE rn <= {IVF_ASSIGN}
), hw0 AS MATERIALIZED (
  SELECT vec_id, {IVF_ASSIGN} AS hw FROM qa
), cprm AS MATERIALIZED (
  SELECT ({CAP_NUM} * {IVF_ASSIGN} * (SELECT count(*) FROM qa)
          + {CAP_DEN} * kc - 1) // ({CAP_DEN} * kc) AS cap
  FROM kprm
)"""
    + _fix_rounds_sql(SPLIT_ROUNDS_MAX)
    + f"""
, fin AS MATERIALIZED (
  SELECT cell, count(*)::BIGINT AS sz
  FROM st{SPLIT_ROUNDS_MAX} GROUP BY cell
), gl AS (
  SELECT count(*)::BIGINT AS n_cells, min(sz)::BIGINT AS min_sz,
         max(sz)::BIGINT AS max_sz
  FROM fin
), rk AS (
  SELECT sz, row_number() OVER (ORDER BY sz, cell) AS rn FROM fin
), md AS (
  SELECT sz AS median_sz FROM rk, gl WHERE rn = (n_cells + 1) // 2
)
SELECT sz AS cell_size, count(*)::BIGINT AS cells_at_size,
       gl.n_cells, gl.min_sz, gl.max_sz, md.median_sz,
       (gl.max_sz * 10000 // md.median_sz)::BIGINT AS skew_e4,
       (SELECT cap FROM cprm) AS cap_sz
FROM fin, gl, md
GROUP BY sz, gl.n_cells, gl.min_sz, gl.max_sz, md.median_sz
"""
)


@register(
    "similarity_ivf_upsert_rebalance",
    _UPSERT_FIX_SQL,
    doc="the MAINTAINED-index guarantee under upserts (VERDICT r10 "
    "item 6's wiring half): merge the base index postings with the "
    "new batch's assignments (both against the STORED base centroids "
    "— the similarity_ivf_upsert lineage), recompute the cap for the "
    "grown posting count over the unchanged base cell count, run the "
    "spill->demote fixpoint, and emit the balance summary of the "
    "result WITH the cap alongside: max_sz <= cap_sz is the bounded-"
    "skew invariant (skew_e4 follows, bounded by cap/median).  A "
    "skewed batch (every new vector near one centroid) lands in one "
    "cell and is immediately redistributed — the property "
    "tests/test_cell_fixpoint.py drives with an adversarial delta",
    tags=("similarity", "ivf", "incremental", "maintenance", "metric"),
)
def similarity_ivf_upsert_rebalance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    root = ivf_base_index_path(spark, sf_dir)
    cents = load_cents(spark, f"{root}/cents")
    out_schema = (
        "cell_size bigint, cells_at_size bigint, n_cells bigint, "
        "min_sz bigint, max_sz bigint, median_sz bigint, "
        "skew_e4 bigint, cap_sz bigint"
    )
    if not cents:
        return spark.createDataFrame([], out_schema)
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # n_all from the embeddings parquet footers; base_n from the base
    # index's persisted stats (written at build time, r15) — zero scan
    # jobs where there were two full-corpus count jobs.
    n_all = corpus_rows(sf_dir)
    base_n = index_stat(root, "n_vectors")
    kc = ivf_kc(base_n)  # cells are the BASE model's — unchanged by upsert
    cap = (CAP_NUM * IVF_ASSIGN * n_all + CAP_DEN * kc - 1) // (
        CAP_DEN * kc
    )
    base = spark.read.parquet(f"{root}/asg").select("vec_id", "cell", "d2")
    qd = km.quantize(
        e.filter((F.col("vec_id") % UP_MOD) == UP_REM).select("vec_id", "v")
    )
    dasg = _nearest_cells(qd, cents, IVF_ASSIGN, meta=True).select(
        "vec_id", "cell", "d2"
    )
    st0 = base.unionByName(dasg)
    q = km.quantize(e.select("vec_id", "v"))
    # postings count without a job: stored base postings (parquet
    # footers) + the delta batch's assignments — _nearest_cells emits
    # exactly min(IVF_ASSIGN, KC) cells per vector (KC >> IVF_ASSIGN
    # on the sharded-cents path, where cents is a parquet path)
    per_vec = (
        IVF_ASSIGN if isinstance(cents, str)
        else min(IVF_ASSIGN, len(cents))
    )
    total0 = (
        km.parquet_dir_rows(f"{root}/asg") + (n_all - base_n) * per_vec
    )
    fin, _rounds = _split_to_fixpoint(
        spark, q, cents, st0, cap, total=total0
    )
    sizes = fin.groupBy("cell").agg(F.count(F.lit(1)).alias("sz"))
    ranked = sizes.withColumn(
        "rn", F.row_number().over(Window.orderBy("sz", "cell"))
    )
    glob = sizes.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.min("sz").alias("min_sz"),
        F.max("sz").alias("max_sz"),
    )
    med = (
        ranked.crossJoin(F.broadcast(glob))
        .filter(F.col("rn") == F.expr("(n_cells + 1) div 2"))
        .select(F.col("sz").alias("median_sz"))
    )
    hist = sizes.groupBy("sz").agg(F.count(F.lit(1)).alias("cells_at_size"))
    return (
        hist.crossJoin(F.broadcast(glob))
        .crossJoin(F.broadcast(med))
        .select(
            F.col("sz").alias("cell_size"),
            "cells_at_size",
            "n_cells",
            "min_sz",
            "max_sz",
            "median_sz",
            F.expr("max_sz * 10000 div median_sz").alias("skew_e4"),
            F.lit(cap).alias("cap_sz"),
        )
    )


@register(
    "similarity_filtered_recall",
    # ground truth: exact same-label brute top-k over the bounded
    # query sample; served: the hoisted filtered serve (one flt CTE)
    _FILTERED_SQL.replace(
        "SELECT query_id, neighbor_id, cosine, rank FROM (",
        ", flt AS (\nSELECT query_id, neighbor_id, cosine, rank FROM (",
        1,
    )
    + f"""
), btr AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (
             PARTITION BY query_id
             ORDER BY cosine DESC, neighbor_id) AS rank
    FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 round({sim.dot_sql("q.v", "c.v")} / (q.nm * c.nm), 4)
                   AS cosine
          FROM n q
          JOIN e eq ON eq.vec_id = q.vec_id
          JOIN e ec ON ec.label = eq.label AND ec.vec_id <> q.vec_id
          JOIN n c ON c.vec_id = ec.vec_id
          WHERE q.vec_id % {QMOD} = 0)
  ) WHERE rank <= {K}
)
SELECT b.query_id,
       count(*)::BIGINT AS truth_n,
       sum(CASE WHEN f.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         AS hits,
       CAST((sum(CASE WHEN f.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
             * 10000) // count(*) AS BIGINT) AS recall_e4
FROM btr b LEFT JOIN flt f
  ON f.query_id = b.query_id AND f.neighbor_id = b.neighbor_id
GROUP BY b.query_id
""",
    doc="self-measuring quality for the FILTERED serve — the standing "
    "rule that every approximate serve ships with the query that "
    "scores it (lsh/ivf/adc/ivfpq/range recall precedents): per "
    f"sampled query (vec_id % {QMOD} = 0, bounded ground truth), "
    "exact same-label brute top-k vs what the index-served filtered "
    "search returned.  Filtered recall is the metric that would catch "
    "the classic filtered-ANN failure (a selective filter starves the "
    "probed cells of eligible candidates and recall collapses — the "
    "fix is probe widening, which the nprm CTE makes a one-constant "
    "retune)",
    tags=("similarity", "ivf", "filtered", "metric"),
)
def similarity_filtered_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    truth = _label_truth(_vectors(spark, sf_dir), F.col("label"))
    return _recall(truth, _filtered_topk(spark, sf_dir))


# --- rare-label filtered tier (r11, VERDICT r10 item 7) ----------------------

#: SQL twin of :func:`filter_widen` over the corpus — the measured
#: distinct rare-label count drives the widening, so selectivity is
#: DATA, not a constant (the kprm/nprm dynamic-parameter precedent).
_LPRM_CTE = f"""
, lprm AS (
  SELECT greatest({FILTER_WIDEN},
         CAST(floor(sqrt((({FILTER_WIDEN * FILTER_WIDEN} *
              count(DISTINCT vec_id % {RARE_MOD})) // {FILTER_LBASE})::DOUBLE))
              AS BIGINT)) AS wd
  FROM e
)"""

_RARE_SQL = (
    _IVF_CTE
    + f"""
, rlab AS (
  SELECT vec_id, vec_id % {RARE_MOD} AS rlabel FROM e
)"""
    + _LPRM_CTE
    + f"""
, probes AS (
  SELECT query_id, cell FROM (
    SELECT q.vec_id AS query_id, c.cell,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {km.dist_sql("q.qv", "c.cv")} ASC, c.cell) AS rn
    FROM (SELECT * FROM q WHERE vec_id % {QMOD} = 0) q, {_IVF_CENTS_CTE} c
  ) WHERE rn <= (SELECT wd FROM lprm) * (SELECT np FROM nprm)
), cand AS (
  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
  FROM probes p
  JOIN asg a ON a.cell = p.cell AND a.vec_id <> p.query_id
  JOIN rlab lq ON lq.vec_id = p.query_id
  JOIN rlab ln ON ln.vec_id = a.vec_id AND ln.rlabel = lq.rlabel
)
"""
    + _scored_topk_sql("")
)


def _filtered_icand(
    spark: SparkSession, sf_dir: str
) -> tuple[_Front, DataFrame, int] | None:
    """The SHARED front half of both rare-filtered serves — widened
    probes over the stored index, postings join, rare-label prune:
    (front, icand, measured label count), or None on an empty index.

    The oracle of the fused retrieval pipeline (VERDICT r13 item 1)
    shares the probes/icand CTEs between its two serves; the Spark side
    shares this ONE subplan the same way (two independent builds made
    non-canonical per-call Python UDF instances, so not even exchange
    reuse could dedup them — r15 profile: ~3 s paid twice)."""
    n_labels = rare_label_count(spark, sf_dir)
    widen = filter_widen(n_labels)
    f = _serve_front(spark, sf_dir, ivf_index_path(spark, sf_dir), widen)
    if f is None:
        return None
    cand = _candidates(f.probes, f.postings, widen)
    icand = _label_prune(cand, f.n, F.col("vec_id") % RARE_MOD)
    return f, icand, n_labels


def _filtered_rare_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`_filtered_topk` with the ~1%-selectivity derived
    ``vec_id % RARE_MOD`` label and :func:`filter_widen` of the MEASURED
    label count as the probe widening."""
    parts = _filtered_icand(spark, sf_dir)
    if parts is None:
        return _empty_topk(_vectors(spark, sf_dir))
    f, icand, _ = parts
    return _scored_topk(f.n, icand)


@register(
    "similarity_topk_filtered_rare",
    _RARE_SQL,
    doc="RARE-label filtered ANN serve (~1% selectivity: the derived "
    f"vec_id % {RARE_MOD} label — deterministic-derivation convention, "
    "modulus divides the sf1 re-key offset): same postings-join-time "
    "filtering as similarity_topk_filtered, but the probe widening is "
    "filter_widen(measured distinct labels) instead of the base "
    "constant — widen scales with the square root of the selectivity "
    "ratio (isqrt, exact in both engines; the lprm CTE is the SQL "
    "twin).  Measured at sf1: the base widen=2 starves the filter "
    "(recall 0.665); widen=6 from this rule recovers 0.976 while "
    "probing 6·log2(n) of isqrt(n) cells — a vanishing fraction at "
    "production scale",
    tags=("similarity", "ivf", "filtered"),
)
def similarity_topk_filtered_rare(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _filtered_rare_topk(spark, sf_dir)


@register(
    "similarity_filtered_rare_recall",
    _RARE_SQL.replace(
        "SELECT query_id, neighbor_id, cosine, rank FROM (",
        ", flt AS (\nSELECT query_id, neighbor_id, cosine, rank FROM (",
        1,
    )
    + f"""
), btr AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (
             PARTITION BY query_id
             ORDER BY cosine DESC, neighbor_id) AS rank
    FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 round({sim.dot_sql("q.v", "c.v")} / (q.nm * c.nm), 4)
                   AS cosine
          FROM n q
          JOIN e ec ON ec.vec_id % {RARE_MOD} = q.vec_id % {RARE_MOD}
                   AND ec.vec_id <> q.vec_id
          JOIN n c ON c.vec_id = ec.vec_id
          WHERE q.vec_id % {QMOD} = 0)
  ) WHERE rank <= {K}
)
SELECT b.query_id,
       count(*)::BIGINT AS truth_n,
       sum(CASE WHEN f.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         AS hits,
       CAST((sum(CASE WHEN f.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
             * 10000) // count(*) AS BIGINT) AS recall_e4
FROM btr b LEFT JOIN flt f
  ON f.query_id = b.query_id AND f.neighbor_id = b.neighbor_id
GROUP BY b.query_id
""",
    doc="self-measuring quality for the RARE-label filtered serve — "
    "the selectivity sweep's accountability metric (VERDICT r10 item "
    "7): exact same-rare-label brute top-k over the bounded query "
    "sample vs the widened-probe serve.  Floor gated at 0.75 in "
    "tests/test_ann_recall_gate.py; measured with the selectivity-"
    "scaled widening: 1.00/1.00 at sf0.01/0.1 (probe set covers all "
    "cells at toy scale) and 0.976 at sf1 (90 of 141 cells)",
    tags=("similarity", "ivf", "filtered", "metric"),
)
def similarity_filtered_rare_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    truth = _label_truth(_vectors(spark, sf_dir), F.col("vec_id") % RARE_MOD)
    return _recall(truth, _filtered_rare_topk(spark, sf_dir))


# --- hybrid retrieval: reciprocal-rank fusion (r11 continuation) -------------

#: RRF constant (Cormack et al.'s k=60, the universal default) and the
#: integer scale: each source contributes floor(1e6 / (60 + rank)) —
#: exact integer division in both engines, so fused scores hash-match
#: without any float-sum hazard.
RRF_K = 60
RRF_SCALE = 1_000_000

# ONE shared WITH chain (the r14 convention, VERDICT r13 item 1): the
# previous form nested the full IVF and LSH serves as two derived-
# table subqueries, planning and executing the corpus/norms base twice
# — this text's no-spill floor was the catalog's #2 (224 MB).  Both
# serves share e/n via _IVF_CTE; the LSH family grafts on as _SIG_BODY
# and each serve is its candidate CTE + one exact-cosine topk body.
_RRF_SQL = (
    _IVF_CTE
    + _SIG_BODY
    + f"""
, probes AS (
  SELECT query_id, cell FROM (
    SELECT query_id, cell,
           row_number() OVER (
             PARTITION BY query_id ORDER BY d ASC, cell) AS rn
    FROM (SELECT q.vec_id AS query_id, c.cell,
                 {km.dist_sql("q.qv", "c.cv")} AS d
          FROM (SELECT * FROM q WHERE vec_id % {QMOD} = 0) q,
               {_IVF_CENTS_CTE} c)
  ) WHERE rn <= (SELECT np FROM nprm)
), candi AS (
  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN asg a ON a.cell = p.cell AND a.vec_id <> p.query_id
), ivfk AS ({_scored_topk_body("candi")}
), candl AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM sx q JOIN sx c ON c.band_key = q.band_key AND c.vec_id <> q.vec_id
  WHERE q.vec_id % {QMOD} = 0
), lshk AS ({_scored_topk_body("candl")}
), allr AS (
  SELECT query_id, neighbor_id,
         {RRF_SCALE} // ({RRF_K} + rank) AS contrib FROM ivfk
  UNION ALL
  SELECT query_id, neighbor_id,
         {RRF_SCALE} // ({RRF_K} + rank) AS contrib FROM lshk
), fused AS (
  SELECT query_id, neighbor_id,
         CAST(sum(contrib) AS BIGINT) AS rrf_e6,
         CAST(count(*) AS BIGINT) AS n_sources
  FROM allr GROUP BY query_id, neighbor_id
)
SELECT query_id, neighbor_id, rrf_e6, n_sources, rank FROM (
  SELECT query_id, neighbor_id, rrf_e6, n_sources,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY rrf_e6 DESC, neighbor_id) AS rank
  FROM fused
) WHERE rank <= {K}
"""
)


@register(
    "similarity_hybrid_rrf",
    _RRF_SQL,
    doc="HYBRID retrieval via reciprocal-rank fusion — the production "
    "pattern for combining heterogeneous retrievers (vector + lexical "
    "/ two index families): each source's top-k contributes "
    f"floor({RRF_SCALE}/({RRF_K}+rank)) and candidates are re-ranked "
    "by the fused sum (Cormack et al. k=60).  Here the two stored-"
    "index ANN families are fused — the IVF serve and the LSH serve "
    "over the same query sample — so a neighbor found by either "
    "family survives, and one found by both outranks single-source "
    "hits (n_sources is emitted for accountability).  Scale shape: "
    "fusion runs on the SERVES' outputs (|Q| x k rows each), never on "
    "the corpus — union + one grouped sum + per-query top-k; the "
    "integer contributions make the fused score hash-exact across "
    "engines",
    tags=("similarity", "retrieval", "fusion"),
)
def similarity_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ivfr = _ivf_topk(spark, sf_dir).select("query_id", "neighbor_id", "rank")
    lshr = _lsh_topk(spark, sf_dir).select("query_id", "neighbor_id", "rank")
    allr = ivfr.unionByName(lshr).select(
        "query_id",
        "neighbor_id",
        F.expr(f"{RRF_SCALE} div ({RRF_K} + rank)").alias("contrib"),
    )
    fused = allr.groupBy("query_id", "neighbor_id").agg(
        F.sum("contrib").alias("rrf_e6"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_e6").desc(), "neighbor_id"
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= K)
        .select("query_id", "neighbor_id", "rrf_e6", "n_sources", "rank")
    )


# --- MMR diversity re-ranking (r11 continuation) ------------------------------

#: MMR selects MMR_SELECT of the serve's K-candidate shortlist; the
#: relevance/diversity trade-off λ=0.7 is carried as the integer pair
#: (7, 3) over e4-scaled scores — mmr = 7·rel_e4 − 3·max_sim_e4 —
#: so every selection compares exact integers in both engines.
MMR_SELECT = 5
MMR_REL_W, MMR_DIV_W = 7, 3

#: Injective (mmr_score, neighbor_id) -> (BIAS - score)*ENC + id encode
#: for the one-aggregate per-query argmax in the oracle's greedy
#: rounds (min of the encode = max score, ties to the smaller id —
#: exactly the old ORDER BY mmr_score DESC, neighbor_id window).
#: DuckDB's // and % are TRUNCATED (C-style), so the first factor is
#: kept non-negative by the bias: |score| <= (REL_W + DIV_W) * 1e4 =
#: 1e5 < BIAS.  Requires 0 <= neighbor_id < ENC (vec_id < 2^40) and
#: (BIAS - score)*ENC <= 3e5 * 2^40 ~ 3.3e17 < 2^63.
MMR_ENC = 1 << 40
MMR_BIAS = 200_000


def _mmr_rounds_sql(rounds: int) -> str:
    """Unrolled greedy MMR selection over CTEs ``base`` (query_id,
    neighbor_id, rel_e4) and ``pair`` (query_id, a, b, sim_e4):
    round 1 picks pure relevance, each later round picks the argmax of
    7·rel − 3·(max sim to the already-selected set), ties to the
    smaller neighbor_id — the same fixed-unroll pattern as the
    cell-split fixpoint oracle."""
    # Each round's pick is ONE hash aggregate (min of the biased
    # MMR_ENC encode), not a row_number window — same argmax, same
    # smaller-neighbor tie-break, five fewer blocking sort operators
    # in the plan (the no-spill-budget term; VERDICT r13 item 1).
    parts = [f"""
, sel1 AS (
  SELECT query_id,
         CAST(mx % {MMR_ENC} AS BIGINT) AS neighbor_id,
         CAST({MMR_BIAS} - mx // {MMR_ENC} AS BIGINT) AS mmr_score,
         1 AS sel_rank
  FROM (SELECT query_id,
               min(({MMR_BIAS} - {MMR_REL_W} * rel_e4) * {MMR_ENC}
                   + neighbor_id) AS mx
        FROM base GROUP BY query_id)
), selall1 AS MATERIALIZED (SELECT * FROM sel1)"""]
    for t in range(2, rounds + 1):
        parts.append(f"""
, scored{t} AS (
  SELECT r.query_id, r.neighbor_id,
         {MMR_REL_W} * r.rel_e4 - {MMR_DIV_W} * max(p.sim_e4)
           AS mmr_score
  FROM base r
  JOIN pair p ON p.query_id = r.query_id AND p.a = r.neighbor_id
  JOIN selall{t - 1} s ON s.query_id = p.query_id
                      AND s.neighbor_id = p.b
  WHERE NOT EXISTS (SELECT 1 FROM selall{t - 1} x
                    WHERE x.query_id = r.query_id
                      AND x.neighbor_id = r.neighbor_id)
  GROUP BY r.query_id, r.neighbor_id, r.rel_e4
), sel{t} AS (
  SELECT query_id,
         CAST(mx % {MMR_ENC} AS BIGINT) AS neighbor_id,
         CAST({MMR_BIAS} - mx // {MMR_ENC} AS BIGINT) AS mmr_score,
         {t} AS sel_rank
  FROM (SELECT query_id,
               min(({MMR_BIAS} - mmr_score) * {MMR_ENC}
                   + neighbor_id) AS mx
        FROM scored{t} GROUP BY query_id)
), selall{t} AS MATERIALIZED (
  SELECT * FROM selall{t - 1} UNION ALL SELECT * FROM sel{t})""")
    parts.append(f"""
SELECT query_id, neighbor_id, mmr_score, sel_rank FROM selall{rounds}
""")
    return "".join(parts)


_MMR_SQL = (
    f"""
WITH base AS MATERIALIZED (
  SELECT query_id, neighbor_id,
         CAST(round(cosine * 10000) AS BIGINT) AS rel_e4
  FROM ({_IVF_SQL})
)"""
    + f"""
, nv AS (
  SELECT vec_id, v, {sim.norm_sql("v")} AS nm
  FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
), pair AS MATERIALIZED (
  SELECT b1.query_id, b1.neighbor_id AS a, b2.neighbor_id AS b,
         CAST(round(round({sim.dot_sql("va.v", "vb.v")}
                          / (va.nm * vb.nm), 4) * 10000) AS BIGINT)
           AS sim_e4
  FROM base b1
  JOIN base b2 ON b2.query_id = b1.query_id
              AND b2.neighbor_id <> b1.neighbor_id
  JOIN nv va ON va.vec_id = b1.neighbor_id
  JOIN nv vb ON vb.vec_id = b2.neighbor_id
)"""
    + _mmr_rounds_sql(MMR_SELECT)
)


@register(
    "retrieval_mmr_rerank",
    _MMR_SQL,
    doc="MMR (maximal-marginal-relevance) DIVERSITY re-ranking — the "
    "production post-retrieval step that stops a result page (or a "
    "RAG context window) from being k near-copies of the same "
    f"document: greedily select {MMR_SELECT} of the IVF serve's "
    f"{K}-candidate shortlist, each pick maximizing 7*rel - 3*maxsim "
    "to the already-picked set (λ=0.7 as an exact integer pair over "
    "e4 cosines — both engines compare identical integers).  Scale "
    "shape: everything past the serve is shortlist-sized — pairwise "
    "sims are |Q| x k(k-1) rows and the inherently-sequential greedy "
    "selection runs in ONE cogrouped Arrow kernel per query (pure "
    "int64 — the kernel compares exactly the integers the unrolled "
    "oracle compares); the corpus is never touched again.  The oracle "
    "unrolls the identical greedy rounds (the cell-split fixpoint "
    "pattern)",
    tags=("similarity", "retrieval", "rerank"),
)
def retrieval_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _vectors(spark, sf_dir)
    base = _ivf_topk(spark, sf_dir).select(
        "query_id",
        "neighbor_id",
        F.expr("CAST(round(cosine * 10000) AS BIGINT)").alias("rel_e4"),
    )
    return _mmr_greedy(n, base)


def _mmr_greedy(n: DataFrame, base: DataFrame) -> DataFrame:
    """Greedy MMR selection over a shortlist ``base`` (query_id,
    neighbor_id, rel_e4) — the shared engine behind the MMR entries
    (the fused filtered retrieval composes it over an RRF shortlist):
    round 1 picks pure relevance, each later round the argmax of
    MMR_REL_W·rel − MMR_DIV_W·(max sim to the selected set), ties to
    the smaller neighbor_id.

    Physical strategy (r12): the pairwise cosines stay in Spark SQL
    (``sim.attach_cosine`` — byte-identical float semantics to the
    oracle's dot/norm/round), but the greedy rounds run inside ONE
    cogrouped Arrow kernel keyed by query_id.  The selection is
    inherently sequential per query (pick t depends on picks 1..t−1),
    so expressing it as DataFrame joins costs a 2^t lazy plan — the r11
    shape benched at 321 exchanges / 120 SMJs over |Q|×k rows.  Each
    kernel group is the query's own shortlist (≤K candidates, ≤K(K−1)
    pair sims) and the arithmetic is pure int64, so the kernel compares
    exactly the integers the unrolled SQL oracle compares.  Scale: the
    corpus is never touched past the serve; the cogroup shuffles only
    |Q|×k + |Q|×k(k−1) rows however large the corpus grows."""
    base = base.localCheckpoint()  # single-computed leaf for both uses
    b2 = base.select(
        F.col("query_id").alias("q2"), F.col("neighbor_id").alias("b")
    )
    pairs = (
        base.select("query_id", F.col("neighbor_id").alias("a"))
        .join(
            b2,
            (F.col("query_id") == F.col("q2")) & (F.col("a") != F.col("b")),
        )
        .select("query_id", "a", "b")
    )
    # the pair side keys as ``qid``: it derives FROM base, and cogroup
    # on the shared name trips Spark's ambiguous-self-join analyzer
    pair = sim.attach_cosine(pairs, n, "a", "b").select(
        F.col("query_id").alias("qid"),
        "a",
        "b",
        F.expr(
            "CAST(round(round(cosine, 4) * 10000) AS BIGINT)"
        ).alias("sim_e4"),
    )
    return (
        base.groupBy("query_id")
        .cogroup(pair.groupBy("qid"))
        .applyInPandas(
            _mmr_kernel,
            "query_id bigint, neighbor_id bigint, "
            "mmr_score bigint, sel_rank int",
        )
    )


def _mmr_kernel(bdf, pdf):
    """Per-query greedy MMR over one shortlist group (pure int64;
    mirrors the unrolled SQL oracle row for row): round 1 = max rel_e4
    (ties to the smaller neighbor_id); round t = argmax of
    ``MMR_REL_W·rel − MMR_DIV_W·max(sim to selected)`` over candidates
    that HAVE a pair row to the selected set (the oracle inner-joins
    ``pair``, so a candidate with no sims drops out — only possible on
    a 1-candidate shortlist, where rounds 2+ emit nothing there too)."""
    import pandas as pd

    cols = ["query_id", "neighbor_id", "mmr_score", "sel_rank"]
    if bdf.empty:
        return pd.DataFrame(columns=cols)
    qid = int(bdf["query_id"].iloc[0])
    rel = {
        int(nb): int(r)
        for nb, r in zip(bdf["neighbor_id"], bdf["rel_e4"])
    }
    sim_e4 = {
        (int(a), int(b)): int(s)
        for a, b, s in zip(pdf["a"], pdf["b"], pdf["sim_e4"])
    }
    first = min(rel, key=lambda c: (-rel[c], c))
    out = [(qid, first, MMR_REL_W * rel[first], 1)]
    sel = [first]
    for t in range(2, MMR_SELECT + 1):
        best = None  # (mmr_score, neighbor_id), ties to smaller id
        for c in rel:
            if c in sel:
                continue
            sims = [sim_e4[(c, s)] for s in sel if (c, s) in sim_e4]
            if not sims:
                continue
            score = MMR_REL_W * rel[c] - MMR_DIV_W * max(sims)
            if best is None or (score, -c) > (best[0], -best[1]):
                best = (score, c)
        if best is None:
            break
        out.append((qid, best[1], best[0], t))
        sel.append(best[1])
    return pd.DataFrame(out, columns=cols)


# --- upserted-index serve freshness (VERDICT r11 item 4) ---------------------

_UPSERT_SERVE_SQL = (
    _BASE_CTE
    + f"""
, qa AS (
  SELECT vec_id, [{km.Q_COLS_SQL}] AS qv FROM e
), q AS (
  SELECT * FROM qa WHERE vec_id % {UP_MOD} <> {UP_REM}
)"""
    + _KPRM_CTE
    + _IVF_CENTS_SQL
    + f"""
, nprm AS (
  SELECT greatest({NPROBE_MIN},
                  CAST(ceil(log2(greatest(count(*), 2))) AS BIGINT)) AS np
  FROM qa
), asgall AS (
  SELECT vec_id, cell FROM (
    SELECT qa.vec_id, c.cell,
           row_number() OVER (
             PARTITION BY qa.vec_id
             ORDER BY {km.dist_sql("qa.qv", "c.cv")} ASC, c.cell) AS rn
    FROM qa, {_IVF_CENTS_CTE} c
  ) WHERE rn <= {IVF_ASSIGN}
), probes AS (
  SELECT query_id, cell FROM (
    SELECT qs.vec_id AS query_id, c.cell,
           row_number() OVER (
             PARTITION BY qs.vec_id
             ORDER BY {km.dist_sql("qs.qv", "c.cv")} ASC, c.cell) AS rn
    FROM (SELECT * FROM qa WHERE vec_id % {QMOD} = 0) qs,
         {_IVF_CENTS_CTE} c
  ) WHERE rn <= (SELECT np FROM nprm)
), cand AS (
  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN asgall a ON a.cell = p.cell AND a.vec_id <> p.query_id
)
"""
    + _scored_topk_sql("").replace(
        "SELECT query_id, neighbor_id, cosine, rank FROM (",
        ", srv AS (\nSELECT query_id, neighbor_id, cosine, rank FROM (",
        1,
    )
    + f"""
)
SELECT query_id, neighbor_id, cosine, rank,
       CASE WHEN neighbor_id % {UP_MOD} = {UP_REM} THEN 1 ELSE 0 END
         AS neighbor_is_new
FROM srv
"""
)


@register(
    "similarity_upsert_serve_fresh",
    _UPSERT_SERVE_SQL,
    doc="SERVE-OUTPUT freshness for the incrementally maintained index "
    "(VERDICT r11 item 4): top-k served from the UPSERTED index — the "
    "stored base-corpus centroids + the stored base postings + the "
    f"encode-only delta batch (vec_id%{UP_MOD}=={UP_REM}) appended — "
    "must equal the serve against a full posting rebuild over the same "
    "model state.  similarity_ivf_upsert proves the POSTINGS equal a "
    "from-scratch assign-all; this entry closes the loop at the query "
    "output: the oracle trains on the base, assigns EVERYTHING in one "
    "pass (the rebuild), probes, and serves — hash-equality means a "
    "freshly upserted document is immediately findable and ranked "
    "identically to a rebuilt index (neighbor_is_new flags the served "
    "delta hits for accountability).  Probe width derives from the "
    "POST-upsert corpus size (the index now holds n vectors), cell "
    "count from the stored model (trained at base size)",
    tags=("similarity", "ivf", "incremental", "metric"),
)
def similarity_upsert_serve_fresh(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    f = _serve_front(spark, sf_dir, ivf_base_index_path(spark, sf_dir))
    if f is None:
        top = _empty_topk(_vectors(spark, sf_dir))
    else:
        # merged postings = stored base postings + encode-only delta (the
        # similarity_ivf_upsert algebra): batch cost proportional to |delta|
        e = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
        qd = km.quantize(
            e.filter((F.col("vec_id") % UP_MOD) == UP_REM)
            .select("vec_id", "v")
        )
        merged = f.postings.select("vec_id", "cell").unionByName(
            _nearest_cells(qd, f.cents, IVF_ASSIGN)
        )
        top = _scored_topk(f.n, _candidates(f.probes, merged))
    flag = (F.col("neighbor_id") % UP_MOD == UP_REM).cast("int")
    return top.select(
        "query_id", "neighbor_id", "cosine", "rank",
        flag.alias("neighbor_is_new"),
    )
