"""Summary math of ``tools/perf_ab.py`` (no Spark, no benchmark runs)."""

from __future__ import annotations

import json

import pytest

from tools import perf_ab
from tools.perf_ab import pair_order, quartiles, summarize, wins

SPEC = json.loads((perf_ab.ROOT / "BENCHMARK.json").read_text())


def test_quartiles_interpolate_between_order_statistics():
    assert quartiles([4.0, 1.0, 3.0, 2.0, 5.0]) == (2.0, 3.0, 4.0)
    assert quartiles([1.0, 2.0, 3.0, 4.0]) == pytest.approx((1.75, 2.5, 3.25))
    assert quartiles([7.0]) == (7.0, 7.0, 7.0)


def test_ties_count_for_neither_side():
    base = [2.0, 2.0, 3.0, 1.0]
    change = [1.0, 2.0, 3.0, 2.0]
    assert wins(base, change, "lower") == (1, 1)
    assert wins(base, change, "higher") == (1, 1)
    assert wins([1.0, 1.0], [2.0, 3.0], "higher") == (2, 0)


def test_pairs_alternate_which_side_runs_first():
    assert [pair_order(i)[0] for i in range(4)] == ["base", "change"] * 2
    assert all(sorted(pair_order(i)) == ["base", "change"] for i in range(4))


def _run(value: float, failed: int = 0) -> dict:
    return {"failed": failed, "metrics": {"m": {"value": value, "unit": "s"}}}


def test_summary_gap_against_base_iqr():
    base = [2.0, 2.5, 3.0, 3.5, 4.0]
    change = [1.0, 1.5, 2.0, 2.5, 3.0]
    runs = [
        {"seed": i, "base": _run(b), "change": _run(c, failed=int(i == 0))}
        for i, (b, c) in enumerate(zip(base, change))
    ]
    s = summarize(runs, [{"name": "m", "better": "lower"}])
    assert s["pairs"] == 5
    assert (s["base_failed_ops"], s["change_failed_ops"]) == (0, 1)
    m = s["m"]
    assert m["base_q"] == (2.5, 3.0, 3.5)
    assert m["change_q"] == (1.5, 2.0, 2.5)
    assert (m["change_wins"], m["base_wins"]) == (5, 0)
    assert m["median_gap"] == -1.0
    # the base's IQR is 1.0: a gap of exactly 1.0 does not exceed it
    assert m["gap_exceeds_base_iqr"] is False
    runs[2]["change"] = _run(1.9)
    assert summarize(runs, [{"name": "m", "better": "lower"}])["m"][
        "gap_exceeds_base_iqr"
    ] is True


def test_failed_run_keeps_finished_pairs(tmp_path, monkeypatch, capsys):
    """A benchmark run that exits non-zero ends the A/B, but the pairs
    finished before it are still summarised and written."""
    seen = []

    def bench(tree, workload, seed, seconds):
        seen.append((seed, seconds))
        if seed == 3:
            raise RuntimeError("perfbench exited 1")
        return {"failed": 0, "metrics": {
            m["name"]: {"value": 1.0} for m in SPEC["end_to_end"]
        }}

    monkeypatch.setattr(perf_ab, "export", lambda rev, dest: None)
    monkeypatch.setattr(perf_ab, "bench", bench)
    out = tmp_path / "ab.json"
    rc = perf_ab.main(["--base", "HEAD", "--pairs", "4", "--seed", "1",
                       "--json", str(out)])
    assert rc == 1
    # the run length is the benchmark's own
    assert {s for _, s in seen} == {SPEC["run_seconds"]}
    rec = json.loads(out.read_text())
    assert [r["seed"] for r in rec["runs"]] == [1, 2]
    assert rec["summary"]["pairs"] == 2
    assert "perfbench exited 1" in rec["failure"]
    assert "2 pairs; failed ops" in capsys.readouterr().out

