"""Core-count scaling evidence at sf1 (VERDICT r15 item 7): time the
heaviest bench queries at sf1 with 32 and with 8 cores and record the
per-query wall ratio.  The sf0.1 pair is latency-bound (driver
round-trips dominate sub-second stages) and was calib-confounded in
r15; at sf1 the task work is large enough that a query whose plan
parallelizes should show wall(8c) / wall(32c) well above 1 — a ratio
near 1 names a serial bottleneck (driver rounds, 1-task stages).

Per (query, cpus): one untimed warm run (index builds amortize, as in
bench.py), then min of 2 timed consuming runs.  Each cpus level runs
in its OWN subprocess so `local[N]` really has N cores.

Usage: python tools/bench_cores_sf1.py [--json OUT.json]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent

#: top bench heavies (r16 32-core baseline order) + the two
#: shuffle-parallel reps whose 8c regression r15 flagged as
#: core-count effects worth quantifying at a meaningful SF.
QUERIES = [
    "retrieval_filtered_fused_mmr",
    "similarity_ivfpq_recall",
    "similarity_range_ivf",
    "similarity_ivf_upsert_rebalance",
    "mlprep_leakage_free_split",
    "similarity_range_recall",
    "graph_pagerank_transitions",
    "dedup_snm_span_clusters",
    "similarity_hybrid_rrf",
    "retrieval_mmr_rerank",
    "dedup_minhash_lsh",
    "index_bm25_dense",
]

_CHILD = r"""
import json, os, sys, time
os.environ.setdefault("SPARK_GRAFT_TRACE", "0")
sys.path.insert(0, %(here)r)
from pyspark.sql import functions as F
from spark_dns_spark.session import get_session, release_all_caches
sf_dir = %(sf)r
import __spark_entry__ as entrymod
qs = entrymod.queries()
spark = get_session("scale_cores")
out = {}
for name in %(queries)r:
    fn = qs[name]
    try:
        fn(spark, sf_dir).select(F.count(F.lit(1))).collect()
        release_all_caches(spark)
        runs = []
        for _ in range(2):
            t0 = time.monotonic()
            df = fn(spark, sf_dir)
            df.select(F.count(F.lit(1))).collect()
            runs.append(round(time.monotonic() - t0, 3))
            release_all_caches(spark)
        out[name] = min(runs)
    except Exception as exc:
        out[name] = None
        print("# ERROR %%s: %%s" %% (name, exc), file=sys.stderr)
    print("# %%s: %%s" %% (name, out[name]), file=sys.stderr, flush=True)
print(json.dumps(out))
"""


def run_level(cpus: int, sf_dir: str) -> dict:
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), SPARK_GRAFT_TRACE="0")
    code = _CHILD % {"here": str(HERE), "sf": sf_dir, "queries": QUERIES}
    proc = subprocess.run(
        [sys.executable, "-c", code], env=env, capture_output=True, text=True,
    )
    sys.stderr.write(proc.stderr[-2000:])
    lines = proc.stdout.strip().splitlines()
    if proc.returncode or not lines:
        raise RuntimeError(
            f"{cpus}-core child failed (exit {proc.returncode}, "
            f"{len(lines)} stdout lines); stderr tail:\n{proc.stderr[-2000:]}"
        )
    return json.loads(lines[-1])


def main() -> int:
    out_json = None
    if "--json" in sys.argv:
        out_json = sys.argv[sys.argv.index("--json") + 1]
    sf_dir = str(HERE / ".scratch" / "sf1")
    if not (Path(sf_dir) / ".complete.v2").exists():
        print("# building sf1 ...", file=sys.stderr)
        subprocess.run([sys.executable, str(HERE / "tools" / "make_sf1.py")],
                       check=True)
    t32 = run_level(32, sf_dir)
    t8 = run_level(8, sf_dir)
    rows = {}
    for q in QUERIES:
        a, b = t32.get(q), t8.get(q)
        rows[q] = {
            "sec_32c": a,
            "sec_8c": b,
            "ratio_8c_over_32c": round(b / a, 2) if a and b else None,
        }
    result = {"sf": 1, "cpus": [32, 8], "queries": rows}
    print(json.dumps(result, indent=1))
    if out_json:
        Path(out_json).write_text(json.dumps(result, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
