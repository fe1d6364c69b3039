"""Dump ``explain("formatted")`` for catalog queries to files
(``<out>/<query>_{before,after}.txt``), to diff the physical plans a
change touches.  The dumps are not committed: rerun this tool at any
commit to regenerate them.

Usage:
    python tools/dump_plans.py --out .scratch/plans --suffix after \
        [--sf /root/testdata/sf0.1] query [query ...]

The "before" side of a diff is produced by running this same tool from a
checkout of the pre-change commit (e.g. a ``git archive`` export) with
``--suffix before`` and the SAME --out directory (pass an absolute path).

Plan-diff recipe.  A cold first run (index disk cache empty for that
code) shows the ``InMemoryRelation``s the index build materialized, so
only WARM runs compare: run each side twice and diff the second dumps.
Two warm runs of one commit are byte-identical after normalizing
expression ids, exchange / plan ids and the index-cache slot digest
(which changes with the code key)::

    sed -E 's/#[0-9]+L?/#N/g; s/\\[id=[0-9]+\\]/[id=N]/g;
            s/plan_id=[0-9]+/plan_id=N/g;
            s#(spark_graft_idx/[a-z_]+/)[0-9a-f]+#\\1D#g'
"""

from __future__ import annotations

import argparse
import os
import sys
from pathlib import Path

os.environ.setdefault("SPARK_GRAFT_TRACE", "0")

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--out", required=True)
    ap.add_argument("--suffix", required=True, choices=["before", "after"])
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    out = Path(args.out)
    out.mkdir(parents=True, exist_ok=True)

    import __spark_entry__ as entrymod
    from spark_dns_spark.session import get_session

    qs = entrymod.queries()
    spark = get_session("dump_plans")
    rc = 0
    for name in args.queries:
        fn = qs.get(name)
        if fn is None:
            print(f"MISSING {name}", file=sys.stderr)
            rc = 1
            continue
        df = fn(spark, args.sf)
        txt = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )
        path = out / f"{name}_{args.suffix}.txt"
        path.write_text(txt)
        print(f"wrote {path} ({len(txt)} bytes)")
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
