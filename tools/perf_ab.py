"""Interleaved A/B of the benchmark: a base revision against the working tree.

    python tools/perf_ab.py --base HEAD --workload ddns_cdc --pairs 10
    make perf-ab BASE=HEAD WORKLOAD=ddns_cdc PAIRS=10

Exports ``--base`` with ``git archive`` into a temporary directory, then
runs ``perfbench/run.py`` on the export and on the working tree, one pair
per seed (``--seed``, ``--seed`` + 1, ...).  The order alternates: even
pairs run the base first, odd pairs the working tree first, so a drift of
the host over the run favours neither side.

Each run lasts the ``run_seconds`` that ``BENCHMARK.json`` sets.  For
every end-to-end metric of that file it prints Q1/median/Q3 on each
side, how many pairs each side won (a tie counts for neither), and
whether the median gap exceeds the base's interquartile range, the bar
a claimed gain has to clear.  Failed ops are summed per side.
``--json`` also writes every run and the summary.  A benchmark run that
exits non-zero ends the A/B: the pairs finished before it are still
summarised and written, and the tool exits 1.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SIDES = ("base", "change")


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """Q1, median, Q3 by linear interpolation between order statistics
    (numpy's default); one sample is its own three quartiles."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def pair_order(i: int) -> tuple[str, str]:
    """Which side pair ``i`` runs first: the base on even pairs."""
    return SIDES if i % 2 == 0 else SIDES[::-1]


def wins(base: list[float], change: list[float], better: str) -> tuple[int, int]:
    """(change wins, base wins) over paired runs; a tie counts for neither."""
    sign = 1 if better == "lower" else -1
    change_wins = sum(sign * (b - c) > 0 for b, c in zip(base, change))
    base_wins = sum(sign * (c - b) > 0 for b, c in zip(base, change))
    return change_wins, base_wins


def summarize(runs: list[dict], metrics: list[dict]) -> dict:
    """Per metric: each side's quartiles, the win counts and whether the
    median gap clears the base's IQR.  ``runs`` holds one record per
    pair: ``{"seed", "base": result, "change": result}``, where a
    result is the benchmark's last stdout line."""
    out: dict = {"pairs": len(runs)}
    for side in SIDES:
        out[f"{side}_failed_ops"] = sum(r[side]["failed"] for r in runs)
    for m in metrics:
        name = m["name"]
        vals = {s: [r[s]["metrics"][name]["value"] for r in runs] for s in SIDES}
        qs = {s: quartiles(vals[s]) for s in SIDES}
        change_wins, base_wins = wins(vals["base"], vals["change"], m["better"])
        gap = qs["change"][1] - qs["base"][1]
        out[name] = {
            "better": m["better"],
            "base_q": qs["base"],
            "change_q": qs["change"],
            "change_wins": change_wins,
            "base_wins": base_wins,
            "median_gap": gap,
            "gap_exceeds_base_iqr": abs(gap) > qs["base"][2] - qs["base"][0],
        }
    return out


def format_summary(summary: dict, metrics: list[dict]) -> str:
    n = summary["pairs"]
    lines = [
        f"{n} pairs; failed ops: base {summary['base_failed_ops']}, "
        f"change {summary['change_failed_ops']}"
    ]
    for m in metrics:
        s = summary[m["name"]]
        b = "/".join(f"{x:.4g}" for x in s["base_q"])
        c = "/".join(f"{x:.4g}" for x in s["change_q"])
        iqr = s["base_q"][2] - s["base_q"][0]
        lines.append(
            f"{m['name']} ({m['better']} is better): base {b} -> change {c}"
            f" (Q1/median/Q3); change won {s['change_wins']}/{n}, base"
            f" {s['base_wins']}/{n}; median gap {s['median_gap']:+.4g}"
            f" {'exceeds' if s['gap_exceeds_base_iqr'] else 'within'}"
            f" the base IQR {iqr:.4g}"
        )
    return "\n".join(lines)


def export(rev: str, dest: Path) -> None:
    """The committed files of ``rev`` under ``dest`` (no git metadata)."""
    archive = subprocess.run(
        ["git", "-C", str(ROOT), "archive", rev], check=True, capture_output=True
    ).stdout
    subprocess.run(["tar", "-x", "-C", str(dest)], input=archive, check=True)


def bench(tree: Path, workload: str, seed: int, seconds: int) -> dict:
    """One benchmark run in ``tree``; its last stdout line, parsed."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, capture_output=True, text=True,
    )
    if proc.returncode != 0:
        raise RuntimeError(
            f"perfbench in {tree} (seed {seed}) exited {proc.returncode}:\n"
            f"{proc.stderr[-2000:]}"
        )
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument("--base", required=True, help="git revision to compare against")
    ap.add_argument("--workload", default="ddns_cdc")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    ap.add_argument("--json", default="", help="write runs and summary here")
    args = ap.parse_args(argv)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    metrics = spec["end_to_end"]
    runs, failure = [], None
    with tempfile.TemporaryDirectory(prefix="perf_ab_") as tmp:
        trees = {"base": Path(tmp), "change": ROOT}
        export(args.base, trees["base"])
        for i in range(args.pairs):
            seed = args.seed + i
            rec = {"seed": seed, "first": pair_order(i)[0]}
            try:
                for side in pair_order(i):
                    rec[side] = bench(
                        trees[side], args.workload, seed, spec["run_seconds"]
                    )
            except RuntimeError as e:
                failure = str(e)
                print(failure, file=sys.stderr)
                break
            runs.append(rec)
            print(
                f"pair {i} seed {seed} ({rec['first']} first): "
                + ", ".join(
                    f"{m['name']} {rec['base']['metrics'][m['name']]['value']:.4g}"
                    f" -> {rec['change']['metrics'][m['name']]['value']:.4g}"
                    for m in metrics
                ),
                flush=True,
            )
    summary = summarize(runs, metrics) if runs else {}
    if runs:
        print(format_summary(summary, metrics))
    if args.json:
        Path(args.json).write_text(
            json.dumps({"base": args.base, "workload": args.workload,
                        "runs": runs, "summary": summary,
                        "failure": failure}, indent=2) + "\n"
        )
    return 1 if failure else 0


if __name__ == "__main__":
    sys.exit(main())
