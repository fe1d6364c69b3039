"""Plan-shape regression gate (VERDICT r10 item 5).

``PLAN_BASELINE.json`` pins each catalog query's physical-plan
signature ({join strategy counts, exchanges, pushdown}).  The full
catalog is re-audited against it every round by ``make plan-audit``
(which now exits nonzero on drift); this suite test keeps two faster
invariants under pytest:

1. the baseline COVERS the catalog — a new query without a baseline
   entry fails here, so the file regenerates in the same commit;
2. a representative join-heavy sample rebuilds its plans live and must
   not drift — a silent new Exchange / lost broadcast / new nested
   loop in the hottest shapes fails the suite, not just the
   round-gate tool.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from tools.plan_audit import BASELINE_PATH, SKIP, drift, plan_stats

#: join-heavy shapes spanning the tiers most likely to drift (TPC-H
#: multi-join, IVF serve — pinned, widened-unpinned, cross-module and
#: the shared filtered-candidate subplan —, dedup LSH, graph iteration,
#: changelog argmax)
SAMPLE = [
    "tpch_q5_local_supplier_volume",
    "tpch_q21_waiting_suppliers",
    "tpch_q17_small_quantity_revenue",
    "revenue_by_nation",
    "similarity_topk_ivf",
    "similarity_topk_filtered_rare",
    "similarity_topk_ivfpq",
    "retrieval_filtered_fused_mmr",
    "dedup_minhash_lsh",
    "graph_pagerank_transitions",
    "changelog_latest_wins",
    "mlprep_leakage_free_split",
    "asof_join_last_error",
]


@pytest.fixture(scope="module")
def baseline() -> dict:
    assert BASELINE_PATH.exists(), (
        "PLAN_BASELINE.json missing — run: python tools/plan_audit.py "
        "--write-baseline"
    )
    return json.loads(Path(BASELINE_PATH).read_text())


def test_baseline_covers_catalog(baseline):
    import __spark_entry__ as entrymod

    names = set(entrymod.queries()) - SKIP
    missing = sorted(names - set(baseline))
    assert not missing, (
        f"queries without a plan baseline: {missing} — regenerate with "
        "python tools/plan_audit.py --write-baseline (same commit as "
        "the plan change)"
    )


@pytest.mark.parametrize("name", SAMPLE)
def test_sampled_plans_do_not_drift(name, baseline, spark):
    import __spark_entry__ as entrymod

    # the baseline is recorded at sf0.01 (the plan-audit gate's sf);
    # compare at the SAME sf — join strategy choices are size-driven
    df = entrymod.queries()[name](spark, "/root/testdata/sf0.01")
    cur = plan_stats(df._jdf.queryExecution().executedPlan().toString())
    regressions = drift(name, cur, baseline.get(name))
    assert not regressions, f"{name}: {regressions} (cur={cur})"
