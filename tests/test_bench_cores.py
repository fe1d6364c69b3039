"""tools/bench_cores_sf1.run_level: a crashed child must surface its
own stderr, not an IndexError from parsing empty stdout."""

from __future__ import annotations

import subprocess

import pytest

from tools import bench_cores_sf1


@pytest.mark.parametrize(
    "rc, stdout", [(1, ""), (0, ""), (137, '{"partial": 1}\n')]
)
def test_run_level_raises_with_child_stderr(monkeypatch, rc, stdout):
    def fake_run(args, **kw):
        return subprocess.CompletedProcess(
            args, rc, stdout=stdout, stderr="java.lang.OutOfMemoryError\n"
        )

    monkeypatch.setattr(bench_cores_sf1.subprocess, "run", fake_run)
    with pytest.raises(RuntimeError, match="OutOfMemoryError"):
        bench_cores_sf1.run_level(8, "/nonexistent")


def test_run_level_parses_last_stdout_line(monkeypatch):
    def fake_run(args, **kw):
        return subprocess.CompletedProcess(
            args, 0, stdout='# noise\n{"q": 1.5}\n', stderr=""
        )

    monkeypatch.setattr(bench_cores_sf1.subprocess, "run", fake_run)
    assert bench_cores_sf1.run_level(8, "/nonexistent") == {"q": 1.5}
