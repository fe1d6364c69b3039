"""``tools/check_oracle.py`` front end: usage without a Spark session,
and the positional sf_dir / query-name split."""

from __future__ import annotations

import subprocess
import sys

from tests.conftest import REPO
from tools import check_oracle


def test_help_prints_usage_without_a_session():
    proc = subprocess.run(
        [sys.executable, str(REPO / "tools" / "check_oracle.py"), "--help"],
        capture_output=True, text=True, timeout=20,
    )
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout.startswith("usage: check_oracle.py"), proc.stdout
    assert "--json" in proc.stdout and "sf_dir" in proc.stdout
    assert "SparkContext" not in proc.stderr and "spark error" not in proc.stdout


def test_first_argument_is_a_query_unless_a_directory(monkeypatch, tmp_path):
    calls = []
    monkeypatch.setattr(check_oracle, "run", lambda *a: calls.append(a) or 0)
    default = check_oracle.DEFAULT_SF_DIR
    check_oracle.main(["q1", "q2"])
    check_oracle.main(["--json", "out.json", str(tmp_path), "q1"])
    check_oracle.main([])
    assert calls == [
        (default, ["q1", "q2"], None),
        (str(tmp_path), ["q1"], "out.json"),
        (default, [], None),
    ]
