"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB over the same sf dir, then compares row count, column names, and
an order-insensitive value hash (columns sorted by name, rows sorted,
values stringified with full precision).

STRICTER than it looks: both result sets are materialized through
pandas (Spark ``toPandas()``, DuckDB ``.df()``) because that is how a
driver-side comparator sees them — e.g. DuckDB ``sum(BIGINT)`` returns
HUGEINT, which pandas renders as float64, so ``500`` vs ``500.0``
IS a mismatch here (cast such sums ``::BIGINT`` in the oracle SQL).
Floats are stringified at full ``repr`` precision: a query only passes
if it is bit-deterministic across engines (use the floor-round tricks
from the catalog conventions, never bare ``round()`` on a blend).

Usage:  python tools/check_oracle.py [--json OUT.json] [sf_dir] [query ...]
        python tools/check_oracle.py --help

``--json`` writes a per-query artifact in the driver's CORRECTNESS
shape (rows/schema/hash matches + row counts) so the FULL catalog's
cross-engine result can be committed each round regardless of which
~50 entries the driver's rotating window happens to cover (ADVICE r3).
"""

from __future__ import annotations

import argparse
import hashlib
import math
import sys
import time

# Keep the gate breadcrumb trail (.gate_trace.jsonl) for EXTERNAL
# driver runs only (must be set before __spark_entry__ import).
import os as _os_trace
_os_trace.environ.setdefault("SPARK_GRAFT_TRACE", "0")

from datetime import datetime
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb  # noqa: E402


#: sf dir checked when none is given (the sf0.01 test data, TESTDATA.md)
DEFAULT_SF_DIR = "/root/testdata/sf0.01"

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


def configure_duck(con) -> None:
    """Bound the oracle engine so it coexists with the Spark JVM + 32
    Python workers in one box.  DuckDB's defaults (threads = all
    cores, memory_limit = 80% of RAM, no temp dir in some envs) make
    it the process that hits malloc failure when Spark's side of the
    SAME query spikes RSS — observed in the r7 full-catalog run as
    'Out of Memory Error: Failed to allocate block' right after the
    heavy streaming queries.  A modest explicit limit + spill dir
    turns that into graceful out-of-core execution instead."""
    import os
    import tempfile

    try:
        ram_gb = (
            os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        ) // (1 << 30)
    except (ValueError, OSError):
        ram_gb = 16
    # never ABOVE the 80%-of-RAM default on small hosts: a fixed 16GB
    # on an 8GB box would worsen the race this helper exists to stop.
    # SPARK_GRAFT_DUCK_MEM_GB overrides for standalone big-oracle runs
    # (the sf1 gate's pair-heavy r12 oracles need ~2x the coexistence
    # cap on a 128GB box; the driver-shaped gates never set it).
    limit_gb = max(1, min(16, int(ram_gb * 0.4)))
    env_gb = os.environ.get("SPARK_GRAFT_DUCK_MEM_GB")
    if env_gb:  # set to anything, even whitespace: the user meant SOMETHING
        try:
            # float accepted and floored ('4.5' -> 4) so an intentional
            # fractional override is honored, not dropped (ADVICE r13)
            limit_gb = max(1, min(int(float(env_gb)), int(ram_gb * 0.8)))
        except ValueError:
            # malformed override ('16GB', ' ') must not kill the whole
            # oracle run — keep the coexistence cap (ADVICE r12), but
            # say so: a silently-dropped override is a debugging trap
            # (whitespace-only included — a templated-empty CI var with
            # a stray space is exactly the case that needs the hint)
            print(
                f"check_oracle: ignoring malformed "
                f"SPARK_GRAFT_DUCK_MEM_GB={env_gb!r}; using "
                f"{limit_gb}GB coexistence cap",
                file=sys.stderr,
            )
    con.execute("SET threads=8")
    con.execute(f"SET memory_limit='{limit_gb}GB'")
    # spill dir cleaned up on interpreter exit (same pattern as
    # feeds.scratch_dir) — otherwise every oracle run leaks a
    # duck_spill_* directory plus any spill files (ADVICE r7)
    import atexit
    import shutil

    spill = tempfile.mkdtemp(prefix="duck_spill_")
    atexit.register(shutil.rmtree, spill, ignore_errors=True)
    con.execute(f"SET temp_directory='{spill}'")


def run_oracle_resilient(con, sql: str):
    """Execute an oracle with ONE retry after an out-of-memory error:
    transient co-tenant pressure (Spark executor RSS peaks) recedes
    within seconds, and a gc+pause is enough for the retry to see a
    sane allocator again."""
    import gc
    import time

    for attempt in (0, 1):
        try:
            return con.execute(sql).df()
        except Exception as e:  # duckdb.Error and allocator failures
            if "Out of Memory" in str(e) and attempt == 0:
                gc.collect()
                time.sleep(10)
                continue
            raise


def _norm(v):
    import numpy as np

    if v is None:
        return "NULL"
    if isinstance(v, (float, np.floating)):
        if math.isnan(v):
            return "NaN"
        return repr(float(v))
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, np.datetime64):
        return v.astype("datetime64[us]").item().isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if hasattr(v, "isoformat"):  # pandas.Timestamp
        return v.tz_localize(None).isoformat() if getattr(v, "tz", None) else v.isoformat()
    return str(v)


def _pandas_rows(df):
    """(colnames, rows) from a pandas frame, NaN→None for object cols."""
    cols = list(df.columns)
    rows = []
    for tup in df.itertuples(index=False, name=None):
        rows.append(tuple(None if _is_na_scalar(x) else x for x in tup))
    return cols, rows


def _is_na_scalar(x):
    import pandas as pd

    if isinstance(x, (list, tuple)) or hasattr(x, "__array__"):
        return False
    try:
        return pd.isna(x)
    except (TypeError, ValueError):
        return False


def table_hash(rows, colnames):
    """Order-insensitive: sort columns by name, then sort row tuples."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("\x01".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\x02")
    return h.hexdigest()


def run(sf_dir: str, only: list[str], json_out: str | None = None) -> int:
    import __spark_entry__ as entrymod
    from spark_dns_spark.session import get_session

    spark = get_session("oracle-check")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    con = duckdb.connect()
    configure_duck(con)
    for t in TABLES:
        p = Path(sf_dir) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    from spark_dns_spark.session import release_all_caches

    failed = []
    results: dict[str, dict] = {}
    names = only or sorted(qs)
    for name in names:
        rec = results[name] = {
            "rows_match": False,
            "schema_match": False,
            "hash_match": False,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
        }
        t0 = time.monotonic()
        try:
            sdf = qs[name](spark, sf_dir)
            scols, srows = _pandas_rows(sdf.toPandas())
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            rec["err"] = f"spark error: {e}"
            failed.append(name)
            continue
        finally:
            rec["spark_s"] = round(time.monotonic() - t0, 3)
            # cache-lifetime discipline: a query's persists/checkpoints
            # are released the moment its result is consumed — nothing
            # carries into the next query's execution (VERDICT r3).
            leftover = release_all_caches(spark)
            if leftover > 0:
                print(f"WARN {name}: {leftover} persistent RDDs survived release")
        rec["spark_rows"] = len(srows)
        if name not in oracles:
            rec.update(rows_match=True, schema_match=True, hash_match=True,
                       err="rows-only (no oracle)")
            print(f"ok   {name}: rows-only ({len(srows)} rows, no oracle)")
            continue
        t0 = time.monotonic()
        try:
            dcols, drows = _pandas_rows(run_oracle_resilient(con, oracles[name]))
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            rec["err"] = f"duckdb error: {e}"
            failed.append(name)
            continue
        finally:
            rec["oracle_s"] = round(time.monotonic() - t0, 3)
        rec["oracle_rows"] = len(drows)
        problems = []
        rec["rows_match"] = len(srows) == len(drows)
        if not rec["rows_match"]:
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        rec["schema_match"] = sorted(scols) == sorted(dcols)
        if not rec["schema_match"]:
            problems.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
        if not problems:
            hs, hd = table_hash(srows, scols), table_hash(drows, dcols)
            rec["hash_match"] = hs == hd
            if hs != hd:
                problems.append("value-hash mismatch")
                # show a diff sample
                order_s = sorted(range(len(scols)), key=lambda i: scols[i])
                order_d = sorted(range(len(dcols)), key=lambda i: dcols[i])
                set_s = {tuple(_norm(r[i]) for i in order_s) for r in srows}
                set_d = {tuple(_norm(r[i]) for i in order_d) for r in drows}
                for x in list(set_s - set_d)[:3]:
                    print(f"     spark-only: {x}")
                for x in list(set_d - set_s)[:3]:
                    print(f"     duck-only : {x}")
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            failed.append(name)
        else:
            print(f"ok   {name}: {len(srows)} rows match")
    print(f"\n{len(names) - len(failed)}/{len(names)} queries match")
    if failed:
        print("failed:", " ".join(failed))
    if json_out:
        import json

        Path(json_out).write_text(json.dumps(results, indent=2) + "\n")
        print(f"wrote {json_out} ({len(results)} queries)")
    return 1 if failed else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(
        description="Run catalog queries on Spark and their oracle SQL on "
        "DuckDB over one sf dir, and compare the results."
    )
    ap.add_argument("--json", default=None, metavar="OUT",
                    help="write a per-query artifact in the CORRECTNESS shape")
    ap.add_argument("sf_dir", nargs="?",
                    help=f"data directory (default: {DEFAULT_SF_DIR}); a "
                    "first argument that is not a directory is a query name")
    ap.add_argument("queries", nargs="*", help="query names (default: all)")
    args = ap.parse_args(argv)
    only = list(args.queries)
    if args.sf_dir is not None and not Path(args.sf_dir).is_dir():
        only.insert(0, args.sf_dir)
        args.sf_dir = None
    return run(args.sf_dir or DEFAULT_SF_DIR, only, args.json)


if __name__ == "__main__":
    sys.exit(main())
