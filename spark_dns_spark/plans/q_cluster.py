"""Dedup cluster assignment — connected components over the near-dup
pair graph, the step that turns pairwise LSH matches into "keep one doc
per cluster" decisions.

Spark side: Pregel-style min-label propagation — each iteration is one
equi-join + groupBy (labels hop one edge), looping until a fixpoint.
The driver loop only runs a convergence count per round; all data stays
distributed.  Rounds needed = cluster diameter, which for near-dup
graphs is tiny (dup clusters are dense cliques, not chains).

Oracle: DuckDB recursive CTE computing full reachability, then
min-per-source — an independent formulation of the same components.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_dns_spark.functions.dnsfn import portable_hash32_sql
from spark_dns_spark.plans.catalog import register
from spark_dns_spark.plans.q_dedup import MINHASH_LSH_SQL, dedup_minhash_lsh

MAX_ITERS = 20  #: safety cap; fixpoint is reached at cluster diameter

#: Shared recursive-CTE oracle: full reachability, then min-per-source
#: — an independent formulation both Spark variants must match.
CLUSTER_SQL = f"""
WITH RECURSIVE pairs AS (
{MINHASH_LSH_SQL}
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
), reach(src, dst) AS (
  SELECT DISTINCT src, src AS dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
), comp AS (
  SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
)
SELECT doc_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM comp
"""


def _edges_and_labels(spark: SparkSession, sf_dir: str):
    """(edges, labels, pairs) from ONE invocation of the wrapped LSH
    query.  Callers needing the pair list (the leakage audit) must use
    THIS pairs DF rather than re-invoking dedup_minhash_lsh: the
    catalog wrapper releases all caches at entry, which would destroy
    the localCheckpoint blocks the propagated labels depend on."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("id_a", "id_b").persist()
    edges = pairs.union(
        pairs.select(F.col("id_b"), F.col("id_a"))
    ).toDF("src", "dst").persist()
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .persist()
    )
    # the materializing count was always run here — keep its VALUE on
    # the frame so iterative consumers can pick broadcast-sized plans
    # without a second job (the _corpus_rows convention, r15)
    labels._n_docs = labels.count()
    return edges, labels, pairs


def _with_sizes(labels: DataFrame) -> DataFrame:
    sizes = labels.groupBy("label").agg(F.count("*").alias("cluster_size"))
    return labels.join(sizes, "label").select(
        "doc_id",
        F.col("label").alias("cluster_id"),
        "cluster_size",
    )


def propagate_labels(
    edges: DataFrame,
    labels: DataFrame,
    doubling: bool,
    max_iters: int = MAX_ITERS,
    name: str = "connected components",
) -> DataFrame:
    """Min-label fixpoint over ``edges`` (src,dst) starting from
    ``labels`` (doc_id,label) — the shared core of both cluster queries.

    ``doubling=False``: one neighbor-min hop per round; rounds needed =
    component min-label eccentricity (fine for dense dup cliques).
    ``doubling=True``: after the hop, every label is rewritten to its
    label's label (pointer doubling / path halving), so the distance to
    the component minimum roughly halves per round — O(log diameter)
    rounds, the formulation that survives a 100x chainier graph.

    Raises RuntimeError instead of returning silently-wrong labels when
    the fixpoint is not reached within ``max_iters``.
    """
    changed = 0
    for _ in range(max_iters):
        # hop: every node adopts the min label among itself + neighbors
        neigh = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("label").alias("neigh_label"))
        )
        hop = labels.join(neigh, labels.doc_id == neigh.src, "left").select(
            "doc_id",
            F.least(
                F.col("label"),
                F.coalesce(F.col("neigh_label"), F.col("label")),
            ).alias("label"),
        )
        if doubling:
            # persist: hop feeds BOTH sides of the pointer join — the
            # cache stops the join+groupBy lineage running twice.
            hop = hop.persist()
            # doubling: label <- hop(label).  Every label value IS a
            # node id (labels start as ids and only take mins of ids),
            # so the lookup hits; labels are monotone non-increasing,
            # hence hop(label) <= label and the chase shortcuts toward
            # the component min.
            ptr = hop.select(
                F.col("doc_id").alias("p_id"), F.col("label").alias("p_label")
            )
            new_labels = hop.join(ptr, hop.label == ptr.p_id, "left").select(
                "doc_id",
                F.coalesce(F.col("p_label"), F.col("label")).alias("label"),
            )
        else:
            new_labels = hop
        # localCheckpoint (eager), not persist: persist only truncates
        # recomputation — the LOGICAL plan still nests round over round,
        # and the doubling self-join references hop twice, doubling the
        # plan tree per round (exponential planning memory by round
        # ~12).  Truncating lineage is the standard shape for iterative
        # graph algorithms (same reason GraphX/GraphFrames checkpoint).
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        if doubling:
            hop.unpersist()
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        # A silent stop here would return labels that diverge from the
        # recursive-CTE oracle with no error.
        raise RuntimeError(
            f"{name} did not converge in {max_iters} iterations "
            f"({changed} labels still moving); "
            + (
                "with path halving this needs a component min-label "
                f"eccentricity over ~2^{max_iters} — almost certainly a "
                "bug, not a graph"
                if doubling
                else "raise max_iters for graphs with longer chains"
            )
        )
    return labels


@register(
    "dedup_cluster_assign",
    CLUSTER_SQL,
    doc="connected components over the LSH near-dup graph (iterative "
    "min-label propagation to a fixpoint; one join+groupBy per round, "
    "no data on the driver) — cluster_id = min doc_id in component; "
    "oracle is an independent recursive-CTE reachability formulation",
    tags=("dedup", "cluster", "iterative"),
)
def dedup_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges, labels, _ = _edges_and_labels(spark, sf_dir)
    return _with_sizes(
        propagate_labels(edges, labels, doubling=False, name="dedup_cluster_assign")
    )


@register(
    "dedup_cluster_pointer_doubling",
    CLUSTER_SQL,
    doc="connected components via pointer doubling (path halving): each "
    "round does one neighbor-min hop AND then rewrites every label to "
    "its label's label, so the distance to the component minimum "
    "roughly HALVES per round — O(log diameter) rounds vs plain "
    "propagation's O(diameter), the 100x-graph formulation (VERDICT r3 "
    "item 6); result-identical to dedup_cluster_assign and checked "
    "against the same recursive-CTE oracle",
    tags=("dedup", "cluster", "iterative"),
)
def dedup_cluster_pointer_doubling(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges, labels, _ = _edges_and_labels(spark, sf_dir)
    return _with_sizes(
        propagate_labels(
            edges, labels, doubling=True, name="dedup_cluster_pointer_doubling"
        )
    )


#: Representative ordering key headroom: doc_id < 1e7 at any test SF.
_REP_KEY = "n_chars * 10000000 + doc_id"

#: Max rank buckets for the sweep-line's two-level prefix pass.
_SWEEP_NB = 256


@register(
    "dedup_snm_span_clusters",
    "WITH "
    + __import__(
        "spark_dns_spark.plans.q_dedup", fromlist=["SNM_CTES"]
    ).SNM_CTES
    + f"""
, iv AS (SELECT rnk_a, rnk_b FROM snm),
flg AS (
  SELECT rnk_a, rnk_b,
         CASE WHEN rnk_a > coalesce(max(rnk_b) OVER (ORDER BY rnk_a, rnk_b
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS brk
  FROM iv
), isl AS (
  SELECT rnk_a, rnk_b,
         sum(brk) OVER (ORDER BY rnk_a, rnk_b ROWS UNBOUNDED PRECEDING)
           AS island
  FROM flg
), nodes AS (
  SELECT DISTINCT island, r FROM (
    SELECT island, rnk_a AS r FROM isl
    UNION ALL SELECT island, rnk_b AS r FROM isl)
), members AS (
  SELECT n.island, rk.doc_id, d.n_chars
  FROM nodes n JOIN snm_ranked rk ON rk.rnk = n.r
  JOIN documents d ON d.doc_id = rk.doc_id
)
SELECT min(doc_id) AS cluster_id, count(*)::BIGINT AS n_members,
       arg_max(doc_id, {_REP_KEY}) AS rep_doc_id,
       max(n_chars) AS rep_n_chars
FROM members GROUP BY island
""",
    doc="sweep-line span clustering of the sorted-neighborhood matches "
    "— the SCALABLE clustering for rank-local pair graphs, replacing "
    "the rejected CC-over-SNM composition (one Θ(n)-diameter chain "
    "component, so min-label propagation advanced one hop per round): "
    "each matched pair is a rank interval [rnk_a, rnk_b]; clusters = "
    "maximal unions of OVERLAPPING intervals, found in one ordered "
    "pass (running-max break detection + prefix-sum numbering, both "
    "via the two-level distributed pattern — no iteration, no "
    "recursion, O(n log n) at any scale).  DELIBERATELY coarser than "
    "connected components: overlapping spans merge even without a "
    "shared endpoint, the right semantic for review-list blocking; "
    "representatives picked per span by the integer (n_chars, doc_id) "
    "key",
    tags=("dedup", "cluster", "sweepline"),
)
def dedup_snm_span_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from spark_dns_spark.plans.q_dedup import snm_ranked_pairs
    from spark_dns_spark.session import load_table

    ranked, pairs = snm_ranked_pairs(spark, sf_dir)
    iv = pairs.select("rnk_a", "rnk_b").persist()
    max_rnk = iv.agg(F.max("rnk_b")).first()[0]
    span = (int(max_rnk) // _SWEEP_NB + 1) if max_rnk is not None else 1
    b = iv.withColumn("bucket", F.expr(f"rnk_a div {span}"))

    # break detection: prev_end = max end over ALL earlier intervals =
    # greatest(within-bucket running max over preceding rows, max of
    # all earlier buckets) — the earlier-bucket side is a <=256-row
    # relation, windowed tiny then broadcast back
    w_prev = (
        Window.partitionBy("bucket")
        .orderBy("rnk_a", "rnk_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_pre_b = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    bstats = (
        b.groupBy("bucket")
        .agg(F.max("rnk_b").alias("bmax"))
        .withColumn("prefix_end", F.max("bmax").over(w_pre_b))
        .select("bucket", "prefix_end")
    )
    flg = (
        b.join(F.broadcast(bstats), "bucket")
        .withColumn("prev_local", F.max("rnk_b").over(w_prev))
        .withColumn(
            "prev_end",
            F.greatest(
                F.coalesce(F.col("prefix_end"), F.lit(-1)),
                F.coalesce(F.col("prev_local"), F.lit(-1)),
            ),
        )
        .withColumn(
            "brk", F.when(F.col("rnk_a") > F.col("prev_end"), 1).otherwise(0)
        )
        .persist()
    )

    # island numbering: two-level prefix sum of the break flags over
    # the same (bucket, rnk_a, rnk_b) order
    w_cum = (
        Window.partitionBy("bucket")
        .orderBy("rnk_a", "rnk_b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    btot = (
        flg.groupBy("bucket")
        .agg(F.sum("brk").alias("btot"))
        .withColumn(
            "prefix_cnt",
            F.coalesce(F.sum("btot").over(w_pre_b), F.lit(0)),
        )
        .select("bucket", "prefix_cnt")
    )
    isl = (
        flg.join(F.broadcast(btot), "bucket")
        .withColumn(
            "island", F.col("prefix_cnt") + F.sum("brk").over(w_cum)
        )
        .select("island", "rnk_a", "rnk_b")
    )

    nodes = (
        isl.select("island", F.col("rnk_a").alias("r"))
        .union(isl.select("island", F.col("rnk_b").alias("r")))
        .distinct()
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars"
    )
    members = nodes.join(
        ranked, nodes.r == ranked.rnk
    ).join(docs, "doc_id")
    return members.groupBy("island").agg(
        F.min("doc_id").alias("cluster_id"),
        F.count("*").alias("n_members"),
        F.max_by("doc_id", F.expr(_REP_KEY)).alias("rep_doc_id"),
        F.max("n_chars").alias("rep_n_chars"),
    ).drop("island")


def _canonical(e: DataFrame) -> DataFrame:
    """Undirected edge set in canonical (lo, hi) form, no self loops."""
    return (
        e.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _star_round(e: DataFrame, large: bool) -> DataFrame:
    """One star operation (Kiveris et al., 'Connected Components in
    MapReduce and Beyond'): every node u computes m = min(Γ(u) ∪ {u})
    and re-attaches its larger (large-star) or not-larger (small-star)
    neighbors directly to m.  Each emitted edge stays inside u's
    component, every node re-attaches itself via (u, m), so components
    are preserved while long paths contract geometrically."""
    adj = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mn = adj.groupBy("src").agg(F.min("dst").alias("mnv"))
    mn = mn.select(
        F.col("src").alias("u"), F.least("src", "mnv").alias("m")
    )
    j = adj.join(mn, adj.src == mn.u)
    keep = F.col("dst") > F.col("u") if large else F.col("dst") <= F.col("u")
    moved = j.filter(keep).select(
        F.col("dst").alias("src"), F.col("m").alias("dst")
    )
    self_edge = mn.filter(F.col("u") != F.col("m")).select(
        F.col("u").alias("src"), F.col("m").alias("dst")
    )
    return _canonical(moved.union(self_edge))


def star_contraction_components(
    edges: DataFrame, max_iters: int = 40
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction — O(log² n) rounds on ANY graph shape, including the
    Θ(n)-diameter chains where one-hop min-label propagation (even
    with pointer halving) degrades to Θ(diameter) rounds (measured on
    the sorted-neighborhood pair graph: one hop per round).  Each round
    is two groupBy+join passes over the CURRENT edge set, which only
    shrinks toward one star per component; fixpoint = edge set
    unchanged.  Returns (doc_id, label) with label = component min,
    for every endpoint of the ORIGINAL edges."""
    e = _canonical(edges).localCheckpoint(eager=True)
    converged = False
    for _ in range(max_iters):
        e2 = _star_round(_star_round(e, large=True), large=False)
        e2 = e2.localCheckpoint(eager=True)
        diff = e2.exceptAll(e).count() + e.exceptAll(e2).count()
        old = e
        e = e2
        old.unpersist()
        if diff == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"star contraction did not converge in {max_iters} rounds "
            "— exceeds the O(log^2 n) bound by orders of magnitude; "
            "almost certainly a bug, not a graph"
        )
    # final graph is a star per component: label = min(u, min Γ(u))
    nodes = (
        edges.select(F.col("src").alias("doc_id"))
        .union(edges.select(F.col("dst").alias("doc_id")))
        .distinct()
    )
    adj = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = adj.groupBy("src").agg(F.min("dst").alias("mnv"))
    return nodes.join(
        mins, nodes.doc_id == mins.src, "left"
    ).select(
        "doc_id",
        F.least(
            F.col("doc_id"), F.coalesce(F.col("mnv"), F.col("doc_id"))
        ).alias("label"),
    )


@register(
    "dedup_cluster_star_contraction",
    CLUSTER_SQL,
    doc="connected components by alternating large-star/small-star "
    "contraction (Kiveris et al.) over the LSH near-dup graph — the "
    "THIRD CC formulation in the catalog and the one that is "
    "O(log^2 n) rounds on ANY graph shape, closing the gap "
    "continuation 9 measured (one-hop min-label + pointer halving "
    "degrade to Theta(diameter) on chain graphs).  Same recursive-CTE "
    "reachability oracle as the other two variants, so all three "
    "provably compute the same components",
    tags=("dedup", "cluster", "iterative"),
)
def dedup_cluster_star_contraction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    pairs = dedup_minhash_lsh(spark, sf_dir).select("id_a", "id_b").persist()
    edges = pairs.toDF("src", "dst").persist()
    edges.count()
    labels = star_contraction_components(edges)
    return _with_sizes(labels)


# ---------------------------------------------------------------------------
# Leakage-free train/val/test split — the ML-prep step the cluster
# machinery exists FOR: random per-doc splits leak near-duplicates
# across train and eval (the val/test twin of a training doc inflates
# benchmark scores), so the split must be drawn per CLUSTER, with every
# member of a near-dup component landing in the same split.  Docs with
# no near-dup pair are singleton clusters keyed by their own doc_id.
# The assignment hash is the repo's portable md5 domain, so the split
# is deterministic, engine-independent, and stable across reruns —
# adding documents never reshuffles existing assignments (the property
# that makes incremental corpus refreshes possible).

_SPLIT_CTES = f"""
WITH RECURSIVE pairs AS (
{MINHASH_LSH_SQL}
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
), reach(src, dst) AS (
  SELECT DISTINCT src, src AS dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
), comp AS (
  SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
), assigned AS (
  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c USING (doc_id)
), split_of AS (
  SELECT doc_id, cluster_id,
         CASE WHEN b <= 7 THEN 'train'
              WHEN b = 8 THEN 'val'
              ELSE 'test' END AS split
  FROM (
    SELECT doc_id, cluster_id,
           {portable_hash32_sql("'split|' || cluster_id")} % 10 AS b
    FROM assigned
  )
)
"""


@register(
    "mlprep_leakage_free_split",
    _SPLIT_CTES + "SELECT doc_id, cluster_id, split FROM split_of",
    doc="leakage-free 80/10/10 train/val/test split: the split is drawn "
    "per near-dup CLUSTER (md5 of the component's min doc_id), so "
    "every member of a duplicate component lands in the same split and "
    "no training doc has an eval twin; singleton docs hash their own "
    "id.  Deterministic; stable under corpus growth as long as new "
    "docs don't BRIDGE two existing components (a bridging doc merges "
    "them, changing the component min and hence the cluster hash, "
    "which can legitimately reassign the merged cluster)",
    tags=("mlprep", "dedup", "cluster"),
)
def mlprep_leakage_free_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    split, _ = _split_assign(spark, sf_dir)
    return split


def _split_assign(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(split assignment, near-dup pairs) — pairs shared from the one
    LSH invocation (see _edges_and_labels cache-lifetime note)."""
    from spark_dns_spark.functions.dnsfn import portable_hash32
    from spark_dns_spark.session import load_table

    edges, labels, pairs = _edges_and_labels(spark, sf_dir)
    comp = propagate_labels(
        edges, labels, doubling=False, name="mlprep_leakage_free_split"
    ).select("doc_id", F.col("label").alias("cluster_id"))
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    assigned = docs.join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
    )
    b = (
        portable_hash32(
            F.concat(F.lit("split|"), F.col("cluster_id").cast("string"))
        )
        % 10
    )
    split = assigned.select(
        "doc_id",
        "cluster_id",
        F.when(b <= 7, "train").when(b == 8, "val").otherwise("test").alias(
            "split"
        ),
    )
    return split, pairs


@register(
    "mlprep_split_leakage_audit",
    _SPLIT_CTES
    + """
, sizes AS (
  SELECT split, count(*)::BIGINT AS n_docs,
         count(DISTINCT cluster_id)::BIGINT AS n_clusters
  FROM split_of GROUP BY split
), leaks AS (
  SELECT count(*)::BIGINT AS n
  FROM pairs p
  JOIN split_of a ON a.doc_id = p.id_a
  JOIN split_of b ON b.doc_id = p.id_b
  WHERE a.split <> b.split
)
SELECT s.split, s.n_docs, s.n_clusters,
       (SELECT n FROM leaks) AS cross_split_pairs
FROM sizes s
""",
    doc="the audit every split procedure should ship with: per-split "
    "doc + cluster counts AND the number of near-dup pairs that cross "
    "splits — 0 by construction here, and the oracle PROVES it rather "
    "than asserting it (a random per-doc split would score hundreds)",
    tags=("mlprep", "dedup", "metric"),
)
def mlprep_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    split, pairs = _split_assign(spark, sf_dir)
    split = split.persist()
    leaks = (
        pairs.join(
            split.select(
                F.col("doc_id").alias("id_a"), F.col("split").alias("sa")
            ),
            "id_a",
        )
        .join(
            split.select(
                F.col("doc_id").alias("id_b"), F.col("split").alias("sb")
            ),
            "id_b",
        )
        .filter(F.col("sa") != F.col("sb"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    sizes = split.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("cluster_id").alias("n_clusters"),
    )
    return sizes.crossJoin(F.broadcast(leaks)).select(
        "split",
        "n_docs",
        "n_clusters",
        F.col("n").alias("cross_split_pairs"),
    )


@register(
    "graph_triangle_count",
    f"""
WITH pairs AS (
{MINHASH_LSH_SQL}
), e AS (
  -- dedup_minhash_lsh already emits DISTINCT pairs with id_a < id_b
  -- (both engines), so the edge relation is oriented as-is
  SELECT id_a AS a, id_b AS b FROM pairs
), tri AS (
  SELECT e1.a, e1.b, e2.b AS c
  FROM e e1
  JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
), pernode AS (
  SELECT doc_id, count(*)::BIGINT AS n_triangles
  FROM (SELECT unnest([a, b, c]) AS doc_id FROM tri)
  GROUP BY doc_id
)
SELECT doc_id, n_triangles FROM pernode
""",
    doc="triangle counting over the near-dup graph via the classic "
    "ordered-join algorithm (edges oriented low->high id, so each "
    "triangle is enumerated exactly once as a<b<c — no factor-6 "
    "dedup pass and join fan-out is bounded by the out-degree of the "
    "ORDERED graph, the standard trick that makes this O(E^1.5) at "
    "scale).  Per-doc triangle membership is the dedup-QA signal: "
    "high triangle density = clique-like duplicate clusters (safe to "
    "collapse), zero triangles on a large component = chain-like "
    "false-positive bridges worth re-verifying",
    tags=("graph", "dedup", "metric"),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    # dedup_minhash_lsh emits DISTINCT pairs with id_a < id_b, so the
    # edge relation is already triangle-oriented
    e = dedup_minhash_lsh(spark, sf_dir).select(
        F.col("id_a").alias("a"), F.col("id_b").alias("b")
    ).persist()
    e1 = e.alias("e1")
    e2 = e.select(F.col("a").alias("b"), F.col("b").alias("c")).alias("e2")
    e3 = e.select(F.col("a").alias("ta"), F.col("b").alias("tc")).alias("e3")
    tri = (
        e1.join(e2, "b")
        .join(
            e3,
            (F.col("ta") == F.col("a")) & (F.col("tc") == F.col("c")),
        )
        .select("a", "b", "c")
    )
    # ONE pass over the (expensive) triangle join: explode the three
    # corners instead of scanning tri per unionAll branch
    pernode = (
        tri.select(
            F.explode(F.array("a", "b", "c")).alias("doc_id")
        )
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return pernode


@register(
    "graph_clustering_coefficient",
    f"""
WITH pairs AS (
{MINHASH_LSH_SQL}
), e AS (
  SELECT id_a AS a, id_b AS b FROM pairs
), deg AS (
  SELECT doc_id, count(*)::BIGINT AS degree FROM (
    SELECT a AS doc_id FROM e UNION ALL SELECT b FROM e
  ) GROUP BY doc_id
), tri AS (
  SELECT e1.a, e1.b, e2.b AS c
  FROM e e1
  JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
), tcnt AS (
  SELECT doc_id, count(*)::BIGINT AS n_triangles
  FROM (SELECT unnest([a, b, c]) AS doc_id FROM tri)
  GROUP BY doc_id
)
SELECT d.doc_id, d.degree,
       coalesce(t.n_triangles, 0)::BIGINT AS n_triangles,
       CASE WHEN d.degree >= 2
            THEN (2000 * coalesce(t.n_triangles, 0))
                   // (d.degree * (d.degree - 1))
            ELSE 0 END::BIGINT AS coeff_milli
FROM deg d LEFT JOIN tcnt t USING (doc_id)
""",
    doc="local clustering coefficient per node of the near-dup graph "
    "(integer milli-units: 2T div d(d-1)) — the per-doc companion of "
    "graph_triangle_count: coefficient ~1000 marks clique-like "
    "duplicate neighborhoods (collapse confidently), ~0 with high "
    "degree marks hub/bridge docs whose matches deserve re-scoring; "
    "degree is one map-side-combinable count, triangles reuse the "
    "ordered-join enumeration",
    tags=("graph", "dedup", "metric"),
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = dedup_minhash_lsh(spark, sf_dir).select(
        F.col("id_a").alias("a"), F.col("id_b").alias("b")
    ).persist()
    deg = (
        e.select(F.col("a").alias("doc_id"))
        .unionAll(e.select(F.col("b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    e1 = e.alias("e1")
    e2 = e.select(F.col("a").alias("b"), F.col("b").alias("c")).alias("e2")
    e3 = e.select(F.col("a").alias("ta"), F.col("b").alias("tc")).alias("e3")
    tri = (
        e1.join(e2, "b")
        .join(e3, (F.col("ta") == F.col("a")) & (F.col("tc") == F.col("c")))
        .select("a", "b", "c")
    )
    tcnt = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        deg.join(tcnt, "doc_id", "left")
        .select(
            "doc_id",
            "degree",
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias(
                "n_triangles"
            ),
            F.when(
                F.col("degree") >= 2,
                F.expr(
                    "CAST(2000 * coalesce(n_triangles, 0) div "
                    "(degree * (degree - 1)) AS BIGINT)"
                ),
            )
            .otherwise(0)
            .cast("long")
            .alias("coeff_milli"),
        )
    )


# --- label-propagation communities (r11 continuation) -------------------------

#: Synchronous LPA rounds — fixed so the oracle is a finite CTE chain
#: (the kmeans ITERS convention); on the dup-clique-shaped near-dup
#: graph the local majority stabilizes in 2-3 rounds.
LPA_ITERS = 3

#: Broadcast envelope for the per-round label state (doc_id, label).
#: Sized by what an explicit ``F.broadcast`` actually costs, not the
#: 16 B/row framing estimate: the JVM builds a HashedRelation at
#: ~50-100 B/row which is rebuilt EVERY round and bypasses
#: autoBroadcastJoinThreshold, so 1M rows ~ 50-100 MB per round is the
#: honest comfort zone on an 8 g local heap (ADVICE r15).
LPA_BCAST_MAX = 1_000_000


def _lpa_rounds_sql(rounds: int) -> str:
    parts = ["""
, lbl0 AS (SELECT DISTINCT src AS doc_id, src AS label FROM edges)"""]
    for t in range(1, rounds + 1):
        parts.append(f"""
, cnt{t} AS (
  SELECT e.src, l.label, count(*) AS c
  FROM edges e JOIN lbl{t - 1} l ON l.doc_id = e.dst
  GROUP BY e.src, l.label
), lbl{t} AS (
  SELECT src AS doc_id, label FROM (
    SELECT src, label,
           row_number() OVER (PARTITION BY src
                              ORDER BY c DESC, label) AS rn
    FROM cnt{t}) WHERE rn = 1
)""")
    parts.append(f"""
SELECT doc_id, label AS community_id,
       count(*) OVER (PARTITION BY label) AS community_size
FROM lbl{rounds}
""")
    return "".join(parts)


LPA_SQL = (
    f"""
WITH pairs AS ({MINHASH_LSH_SQL}
), edges AS MATERIALIZED (
  -- one consumer per LPA round — without the hint DuckDB re-runs the
  -- whole LSH chain every round (the cell-split ext/post lesson)
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
)"""
    + _lpa_rounds_sql(LPA_ITERS)
)


@register(
    "dedup_cluster_label_propagation",
    LPA_SQL,
    doc="COMMUNITY detection by synchronous label propagation over the "
    "LSH near-dup graph — the fourth graph-labeling formulation in "
    "the catalog and the one that answers a different question than "
    "the CC trio: LPA follows the LOCAL MAJORITY (each node adopts "
    "its neighbors' most common label, ties to the smallest), so a "
    "weak bridge between two dense dup cliques keeps them separate "
    f"communities where CC merges them.  {LPA_ITERS} fixed synchronous "
    "rounds (the kmeans-ITERS finite-oracle convention; dup cliques "
    "stabilize in 2-3), deterministic by the (count DESC, label ASC) "
    "tie-break.  Scale shape: each round is ONE edges-shuffle join + "
    "one (node,label) count + one per-node top-1 — the vectors/text "
    "never move, and rounds chain lazily (linear lineage, no "
    "checkpoint needed)",
    tags=("dedup", "cluster", "graph", "iterative"),
)
def dedup_cluster_label_propagation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    edges, labels, _pairs = _edges_and_labels(spark, sf_dir)
    # Label state is one row per graph node — broadcast it into each
    # round's join when it fits (the node count is already measured by
    # _edges_and_labels' materializing count), so the EDGE list is
    # never shuffled per round (guide §3.1/§2.4); above the envelope
    # the keyed join stays — at 100 TB edges and labels pre-bucket on
    # the same key.
    small = getattr(labels, "_n_docs", None) is not None and (
        labels._n_docs <= LPA_BCAST_MAX
    )
    bc = F.broadcast if small else (lambda df: df)
    lbl = labels
    for _ in range(LPA_ITERS):
        cnt = (
            edges.join(bc(lbl), edges.dst == lbl.doc_id)
            .groupBy("src", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # per-node top-1 as ONE hash aggregate: max of the struct
        # (c, -label) is the (count DESC, label ASC) argmax — same
        # deterministic tie-break as the previous row_number window
        # without its blocking sort + extra exchange (the MMR
        # single-aggregate argmax precedent, VERDICT r13)
        lbl = (
            cnt.groupBy("src")
            .agg(
                F.max(
                    F.struct(F.col("c"), (-F.col("label")).alias("nl"))
                ).alias("m")
            )
            .select(
                F.col("src").alias("doc_id"),
                (-F.col("m.nl")).alias("label"),
            )
            # truncate the per-round lineage (the PageRank r15 fix):
            # each round's broadcast build otherwise re-executes every
            # previous round's join+aggregate chain as its own job
            .localCheckpoint()
        )
    sizes = lbl.groupBy("label").agg(
        F.count(F.lit(1)).alias("community_size")
    )
    return lbl.join(sizes, "label").select(
        "doc_id",
        F.col("label").alias("community_id"),
        "community_size",
    )
