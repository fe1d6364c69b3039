"""tools/scale_probe: a crashed level child must surface its own stderr,
not an IndexError from parsing empty stdout; and the ratio math must
reproduce the committed SCALE_* artifacts from their raw timings."""

from __future__ import annotations

import json
import subprocess
from pathlib import Path

import pytest

from tools import scale_probe

REPO = Path(__file__).resolve().parent.parent


@pytest.mark.parametrize(
    "rc, stdout", [(1, ""), (0, ""), (137, '{"partial": 1}\n')]
)
def test_run_level_raises_with_child_stderr(monkeypatch, rc, stdout):
    def fake_run(args, **kw):
        return subprocess.CompletedProcess(
            args, rc, stdout=stdout, stderr="java.lang.OutOfMemoryError\n"
        )

    monkeypatch.setattr(scale_probe.subprocess, "run", fake_run)
    with pytest.raises(RuntimeError, match="OutOfMemoryError"):
        scale_probe.run_level("0.1", 8, ["q"])


def test_run_level_parses_last_stdout_line(monkeypatch):
    def fake_run(args, **kw):
        return subprocess.CompletedProcess(
            args, 0, stdout='# noise\n{"q": 1.5}\n', stderr=""
        )

    monkeypatch.setattr(scale_probe.subprocess, "run", fake_run)
    assert scale_probe.run_level("0.1", 8, ["q"]) == {"q": 1.5}


def test_run_level_child_env(monkeypatch):
    """The child gets the level's cores; only sf >= 10 takes one timed
    rep and the 48g default heap, and an explicit heap still wins."""
    seen = []

    def fake_run(args, env, **kw):
        seen.append((args[-1], env))
        return subprocess.CompletedProcess(args, 0, stdout="{}\n", stderr="")

    monkeypatch.setattr(scale_probe.subprocess, "run", fake_run)
    monkeypatch.setattr(scale_probe, "sf_dir", lambda sf: f"/data/sf{sf}")
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    scale_probe.run_level("1", 8, ["q"])
    scale_probe.run_level("10", 32, ["q"])
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "12g")
    scale_probe.run_level("10", 32, ["q"])
    (c1, e1), (c10, e10), (_, e10_own) = seen
    assert e1["SPARK_GRAFT_CPUS"] == "8" and "SPARK_GRAFT_DRIVER_MEM" not in e1
    assert c1.endswith("_child('/data/sf1', ['q'], 2)")
    assert c10.endswith("_child('/data/sf10', ['q'], 1)")
    assert e10["SPARK_GRAFT_DRIVER_MEM"] == "48g"
    assert e10_own["SPARK_GRAFT_DRIVER_MEM"] == "12g"


def test_query_sets_are_subsets_of_the_oracle_list():
    oracle = set(scale_probe.ORACLE_QUERIES)
    for qs in (scale_probe.QUERIES, scale_probe.SF10_QUERIES,
               scale_probe.CORES_QUERIES):
        assert set(qs) <= oracle
    assert scale_probe.default_queries(["0.1", "1"], [32]) is scale_probe.QUERIES
    assert scale_probe.default_queries(["0.1", "10"], [32]) is scale_probe.SF10_QUERIES
    assert scale_probe.default_queries(["1"], [32, 8]) is scale_probe.CORES_QUERIES


_SF_FIELDS = ("ratio", "work_growth_x", "output_growth_x", "bound_x",
              "in_bounds")
_SF_SUMMARY = ("max_ratio_linear_work", "max_ratio_quadratic_work",
               "max_ratio_sesqui_work", "breaches")


@pytest.mark.parametrize(
    "artifact, hi, n", [("SCALE_SF1_r14.json", "1", 54),
                        ("SCALE_SF10_r15.json", "10", 10)]
)
def test_sf_summary_replays_artifact(artifact, hi, n):
    doc = json.loads((REPO / artifact).read_text())
    raw = doc["queries"]
    assert len(raw) == n
    levels = {
        (sf, 32): {"queries": {
            q: {"sec": r[f"sf{sf}"], "rows": r[f"rows_sf{sf}"]}
            for q, r in raw.items()
        }}
        for sf in ("0.1", hi)
    }
    (block,) = scale_probe.summarize(levels)["sf_scaling"]
    assert block["data_growth_x"] == doc["data_growth_x"]
    for key in _SF_SUMMARY:
        assert block[key] == doc[key], key
    for q, r in raw.items():
        got = block["queries"][q]
        for key in _SF_FIELDS + tuple(k for k in r if k.startswith("rows_per_sec_")):
            assert got[key] == r[key], (q, key)
        assert set(got) == set(r), q


def test_core_summary_replays_artifact():
    doc = json.loads((REPO / "SCALE_CORES_r16.json").read_text())
    raw = doc["queries"]
    assert len(raw) == 12
    levels = {
        ("1", c): {"queries": {
            q: {"sec": r[f"sec_{c}c"], "rows": 0} for q, r in raw.items()
        }}
        for c in (32, 8)
    }
    (block,) = scale_probe.summarize(levels)["core_scaling"]
    assert block["cpus"] == doc["cpus"]
    assert block["queries"] == raw


def test_summarize_grid_and_failed_queries():
    """A 2x2 grid gives one sf block per core count and one core block
    per sf; a query that failed at one level drops out of the sf ratio
    and reads None in the core ratio."""
    ok = {"sec": 1.0, "rows": 10}
    levels = {
        ("0.1", 4): {"queries": {"a": ok, "b": ok}},
        ("0.1", 2): {"queries": {"a": ok, "b": {"sec": 3.0, "rows": 10}}},
        ("1", 4): {"queries": {"a": {"sec": 5.0, "rows": 100}}},
        ("1", 2): {"queries": {"a": {"sec": 9.0, "rows": 100}}},
    }
    out = scale_probe.summarize(levels)
    assert [(b["cpus"], b["sf"]) for b in out["sf_scaling"]] == [
        (4, ["0.1", "1"]), (2, ["0.1", "1"])]
    assert [set(b["queries"]) for b in out["sf_scaling"]] == [{"a"}, {"a"}]
    assert out["sf_scaling"][1]["queries"]["a"]["ratio"] == 9.0
    assert [(b["sf"], b["cpus"]) for b in out["core_scaling"]] == [
        ("0.1", [4, 2]), ("1", [4, 2])]
    assert out["core_scaling"][0]["queries"]["b"]["ratio_2c_over_4c"] == 3.0
    assert out["core_scaling"][1]["queries"] == {
        "a": {"sec_4c": 5.0, "sec_2c": 9.0, "ratio_2c_over_4c": 1.8}}
