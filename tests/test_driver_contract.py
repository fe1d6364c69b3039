"""The driver's entry contract, simulated end-to-end (VERDICT r9
item 1b): CORRECTNESS_r09.json came back EMPTY, so the repo-side half
of that contract gets its own permanent gate — `__spark_entry__` must
import fast, build EVERY query and oracle under a hard time budget,
and `entry()` must run e2e on a session the repo did not tune
(the driver builds a vanilla SparkSession, not our get_session)."""

from __future__ import annotations

import time

import pytest

import __spark_entry__ as entrymod


def test_queries_and_oracles_build_fast():
    # The driver calls queries() + oracle_sql() up front; if building
    # the dicts were slow or threw, its gate would record nothing —
    # exactly the r9 failure smell.  VERDICT timed the real thing at
    # 0.64 s; budget 10x that.  Measured as PROCESS CPU time so
    # unrelated co-tenant load on a shared box cannot flake the gate
    # (ADVICE r10) — the build is pure in-process Python, no IO waits
    # worth counting.
    t0 = time.process_time()
    qs = entrymod.queries()
    sqls = entrymod.oracle_sql()
    took = time.process_time() - t0
    assert took < 6.5, f"queries()+oracle_sql() took {took:.2f}s CPU"
    assert len(qs) >= 169
    # every oracle names a registered query; every callable is callable
    assert set(sqls) <= set(qs)
    missing_oracle = sorted(set(qs) - set(sqls))
    # rows-only entries must stay a deliberate, short list
    assert not missing_oracle, missing_oracle
    for fn in qs.values():
        assert callable(fn)


def test_oracle_sql_strings_are_bounded():
    # The driver ships every oracle to a memory-tight DuckDB; a
    # runaway pasted-subplan oracle (the r8 PQ OOM / ADVICE r9 range
    # class) shows up first as raw SQL size.  Largest legitimate
    # oracles (PQ chain, range recall) sit under ~60 KB.
    for name, sql in entrymod.oracle_sql().items():
        assert len(sql) < 80_000, (name, len(sql))


def test_entry_runs_on_vanilla_session(spark, sf_dir):
    # The driver smoke-checks entry() on ITS session.  Simulate the
    # important part — entry() must not depend on our tuned session
    # state: reset the configs session.tune() sets, run, restore.
    conf = spark.conf
    touched = {
        "spark.sql.shuffle.partitions": conf.get(
            "spark.sql.shuffle.partitions"
        ),
        "spark.sql.adaptive.enabled": conf.get("spark.sql.adaptive.enabled"),
    }
    conf.set("spark.sql.shuffle.partitions", "200")  # vanilla default
    try:
        rows = entrymod.entry(spark).collect()
        assert rows is not None  # >=0 rows with a stable schema
    finally:
        for k, v in touched.items():
            conf.set(k, v)


def test_window_streaming_entries_pinned():
    # VERDICT r9 item 1a capped the window at ONE LLM-pipeline
    # streaming query (each stages files and runs its own jobs — the
    # wall-clock suspect for the empty r9 gate).  Round 15 lifts the
    # cap FOR THIS ROUND ONLY (VERDICT r14 item 1): the four streaming
    # variants below are the last never-driver-checked streaming
    # evidence in the catalog, the r14 starve gate makes the window
    # allocator-safe by construction, and the r14 gate's 153 s wall
    # against a 1500 s budget leaves 10x headroom.  This test pins the
    # exception to EXACTLY these four — any further streaming creep
    # into the window must revisit the cap deliberately.
    from spark_dns_spark.plans.catalog import catalog

    window = list(catalog().values())[:50]
    # the connector's stream roundtrip is reference-core (S7/S10) and
    # always stays; the pin applies to the LLM-pipeline streaming tier
    streaming = sorted(
        q.name
        for q in window
        if "streaming" in q.tags and "connector" not in q.tags
    )
    assert streaming == [
        "dedup_minhash_stream",
        "dedup_semantic_stream",
        "similarity_pq_upsert_stream",
        "sketch_countmin_stream",
    ], streaming


def test_driver_window_is_declared_once():
    from spark_dns_spark.plans.catalog import (
        DRIVER_WINDOW,
        DRIVER_WINDOW_N,
        catalog,
    )

    assert len(DRIVER_WINDOW) == DRIVER_WINDOW_N
    assert len(set(DRIVER_WINDOW)) == DRIVER_WINDOW_N
    assert list(catalog())[:DRIVER_WINDOW_N] == list(DRIVER_WINDOW)


def test_catalog_tail_follows_registration_order():
    from spark_dns_spark.plans import catalog as catmod

    names = list(catmod.catalog())
    window = set(catmod.DRIVER_WINDOW)
    registered_tail = [n for n in catmod._REGISTRY if n not in window]
    assert names[catmod.DRIVER_WINDOW_N :] == registered_tail
    assert set(names) == set(catmod._REGISTRY)


def test_catalog_rejects_a_bad_window(monkeypatch):
    from spark_dns_spark.plans import catalog as catmod

    good = catmod.DRIVER_WINDOW
    monkeypatch.setattr(
        catmod, "DRIVER_WINDOW", good[:-1] + ("no_such_query",)
    )
    with pytest.raises(ValueError, match="no_such_query"):
        catmod.catalog()
    monkeypatch.setattr(catmod, "DRIVER_WINDOW", good[:-1] + (good[0],))
    with pytest.raises(ValueError, match="twice"):
        catmod.catalog()
