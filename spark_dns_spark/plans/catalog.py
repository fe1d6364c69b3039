"""Query catalog — the SURVEY.md §2 operator inventory as named queries.

Each :class:`Query` pairs a Spark DataFrame builder with the equivalent
ANSI SQL for the DuckDB oracle (``sql=None`` ⇒ non-SQL-expressible,
driver records rows-only).  ``__spark_entry__.py`` exposes this catalog
verbatim.

Conventions (driver contract):
- every computed column is aliased identically in both engines;
- double outputs are ``round()``-ed in both engines so cross-engine
  float summation order can't flip the value hash;
- no ORDER BY dependence — the driver hash is order-insensitive, and
  any top-k uses deterministic tie-breaks.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from spark_dns_spark.session import release_all_caches, tune

#: CTE-definition matcher for :func:`materialize_ctes` (lowercase CTE
#: names only, the catalog convention; never matches an existing
#: ``AS MATERIALIZED (`` because the keyword is uppercase).  The
#: lookbehind excludes named-window clauses (``WINDOW w AS (...)``),
#: which share the ``name AS (`` shape but cannot be materialized —
#: rewriting one would be a DuckDB parse error (review r14).
_CTE_DEF = re.compile(r"(?<!WINDOW )\b([a-z_0-9]+) AS \(")

#: A named-window BODY starts with a window spec, never a SELECT —
#: second line of defense for multi-window clauses
#: (``WINDOW a AS (...), b AS (...)``) where only the first name has
#: the ``WINDOW `` prefix the lookbehind sees.
_WINDOW_BODY = re.compile(
    r"^\s*(PARTITION\s+BY|ORDER\s+BY|ROWS|RANGE|GROUPS)\b", re.I
)

#: Oracle texts with at least this many CTE definitions get every CTE
#: forced to ``AS MATERIALIZED``.  DuckDB INLINES each CTE reference:
#: a deep shared chain (the IVF/PQ train+serve oracles re-reference
#: q/cents/sub/codebook CTEs throughout) expands to a plan with many
#: hundreds of operators (739 for similarity_topk_ivfpq at r13), and
#: per-operator buffer reservations alone then exceed a few hundred MB
#: REGARDLESS of data size — the r13 driver's no-spill DuckDB OOM'd on
#: exactly the 5 deepest texts over a 500-row corpus (VERDICT r13 item
#: 1).  Materializing executes each CTE once and collapses the plan
#: (similarity_topk_ivfpq: OOM at 400 MB -> green at 200 MB, 0.6 s).
#: Shallow oracles (TPC-H etc.) keep inlining and its pushdown wins.
MAT_CTE_MIN = 8


def _cte_body(sql: str, open_at: int) -> str | None:
    """Body of the parenthesized group whose ``(`` sits at ``open_at``
    — paren balance with single-quoted string literals skipped, so a
    literal like ``'^\\('`` cannot mis-extent the body (review r14).
    None when unbalanced."""
    depth = 0
    in_str = False
    i = open_at
    n = len(sql)
    while i < n:
        c = sql[i]
        if in_str:
            if c == "'":
                # '' is an escaped quote inside a SQL literal
                if i + 1 < n and sql[i + 1] == "'":
                    i += 1
                else:
                    in_str = False
        elif c == "'":
            in_str = True
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return sql[open_at + 1 : i]
        i += 1
    return None


def materialize_ctes(sql: str) -> str:
    """Force ``AS MATERIALIZED`` on every non-recursive CTE of a deep
    oracle text (idempotent).

    Every non-recursive CTE gets the keyword, not just multi-
    referenced ones: a multi-ref-only variant was MEASURED WORSE on
    the window tail (similarity_topk_ivfpq's no-spill floor rose
    200 -> 224 MB while fused-MMR didn't improve) — the allocator
    cost is plan/pipeline-shaped, not per-CTE-linear, so the blanket
    policy with the best measured floors across the whole catalog
    wins.  (Fused-MMR's floor is ~240 MB with every intermediate
    under 8,000 rows — pure operator overhead; the 256 MB starve gate
    is the binding contract.)

    Recursive members are left inlined: those declared with a column
    list (``reach(src, dst) AS (``) never match :data:`_CTE_DEF`, and
    plain-form ones (``g AS (`` in pack_greedy_bins) are detected by
    self-reference.  Non-recursive members of a ``WITH RECURSIVE``
    clause ARE eligible — DuckDB 1.0 accepts that, and
    mlprep_split_leakage_audit needs it to fit the 256 MB no-spill
    starve budget."""
    out = []
    last = 0
    for m in _CTE_DEF.finditer(sql):
        name = m.group(1)
        open_at = m.end() - 1  # the '(' the pattern just matched
        body = _cte_body(sql, open_at)
        if body is None:
            continue  # unbalanced: refuse to touch it
        if _WINDOW_BODY.match(body):
            continue  # named-window clause, not a CTE (review r14)
        if re.search(rf"\b{re.escape(name)}\b", body):
            continue  # recursive member: leave inlined
        out.append(sql[last : m.start()])
        out.append(f"{name} AS MATERIALIZED (")
        last = m.end()
    out.append(sql[last:])
    return "".join(out)


@dataclass
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None  # DuckDB oracle; None ⇒ rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, Query] = {}

#: Size of the driver's correctness window (the first N catalog
#: entries).  Single source of truth for the starve gate
#: (tests/test_oracle_memory.py) and the gate-repro harness
#: (tools/gate_repro.py --n default).
DRIVER_WINDOW_N = 50

#: The driver window, in check order; every other query follows in
#: registration order.  The connector core goes first so its evidence
#: survives whatever dies behind it.  Index-backed entries go last, so
#: a late gate death forfeits the least evidence.  The four streaming
#: entries are a deliberate exception to the one-streaming-query cap,
#: pinned by tests/test_driver_contract.py.
DRIVER_WINDOW: tuple[str, ...] = (
    # connector core
    "dns_axfr_read",
    "dns_ixfr_delta_read",
    "dns_read_zone_pushdown",
    "dns_stream_sink_roundtrip",
    "dns_ip_cidr_attribution",
    # cheap §2 operators and TPC-H
    "dedup_cluster_label_propagation",
    "format_orc_roundtrip",
    "pack_greedy_bins",
    "changelog_latest_wins",
    "fqdn_normalize",
    "zone_from_fqdn",
    "group_by_zone",
    "validate_updates",
    "json_extract",
    "json_roundtrip",
    "distinct_zones",
    "zone_serial_max",
    "exactly_once_check",
    "chronological_topk",
    "multimodal_phash_neardup",
    "sessionize_window_native",
    "tumbling_window_counts",
    "tpch_q1_pricing_summary",
    "revenue_by_nation",
    "segment_union_distinct",
    "orders_pivot_status",
    "tpch_q2_min_cost_supplier",
    "tpch_q9_product_type_profit",
    "tpch_q11_important_stock",
    "tpch_q20_potential_promotion",
    # streaming / incremental
    "dedup_minhash_stream",
    "sketch_countmin_stream",
    "retrieval_mmr_rerank",
    "index_postings_upsert",
    # index-backed ANN
    "similarity_ivf_upsert",
    "similarity_ivf_delete_serve",
    "dedup_semantic_incremental",
    "dedup_semantic_stream",
    "similarity_range_ivf",
    "similarity_range_recall",
    "similarity_ivf_cell_balance",
    "similarity_topk_filtered",
    "similarity_ivf_cell_split",
    "similarity_ivf_cell_split_fixpoint",
    "similarity_filtered_recall",
    "similarity_hybrid_rrf",
    "index_bm25_dense",
    "similarity_pq_upsert",
    "similarity_pq_upsert_stream",
    "similarity_pq_drift",
)


def register(
    name: str,
    sql: str | None,
    doc: str = "",
    tags: tuple[str, ...] = (),
) -> Callable:
    """Decorator: add a (spark, sf_dir) -> DataFrame builder to the catalog."""

    if sql is not None and len(_CTE_DEF.findall(sql)) >= MAT_CTE_MIN:
        sql = materialize_ctes(sql)

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            tune(spark)
            # Safety net for callers that don't release after consuming
            # (a query's caches must outlive its function — the result
            # is consumed AFTER return — so owners can't finally-block
            # them; bench.py / check_oracle.py release right after each
            # consume, and this catches everything else).
            release_all_caches(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        _REGISTRY[name] = Query(name=name, fn=wrapped, sql=sql, doc=doc, tags=tags)
        return wrapped

    return deco


def catalog() -> dict[str, Query]:
    """All registered queries (importing the query modules as a side
    effect): :data:`DRIVER_WINDOW` first, in tuple order, then every
    other query in registration order.  Raises ValueError when a window
    name is unregistered or listed twice."""
    # Import here so module import order can't produce a half-filled registry.
    from spark_dns_spark.plans import (  # noqa: F401
        q_connector,
        q_rollup_time,
        q_temporal,
        q_text,
        q_pipeline,
        q_cluster,
        q_sampling,
        q_skew,
        q_formats,
        q_curation,
        q_mlprep,
        q_packing,
        q_kmeans,
        q_graph,
        q_layout,
        q_changelog,
        q_multimodal,
        q_sessions,
        q_dedup,
        q_similarity,
        q_relational,
        q_timeseries,
        q_index,
        q_retrieval,
        q_pq,
        q_lm,
        q_validate,
        q_streaming,
        q_bpe,
        q_cooccur,
        q_basket,
        q_tpch2,
    )

    out: dict[str, Query] = {}
    for n in DRIVER_WINDOW:
        if n in out:
            raise ValueError(f"DRIVER_WINDOW lists {n!r} twice")
        if n not in _REGISTRY:
            raise ValueError(f"DRIVER_WINDOW names unregistered query {n!r}")
        out[n] = _REGISTRY[n]
    out.update(_REGISTRY)  # window keys keep their position
    return out
