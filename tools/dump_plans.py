"""Dump .explain("formatted") for declared queries into plans/<tag>/.

Usage: python tools/dump_plans.py <tag> <suffix> [name ...]
  tag     — subdirectory under plans/ (e.g. r18)
  suffix  — "before" or "after"
  name…   — query names; default = the bench headline list

Each plan lands at plans/<tag>/<name>_<suffix>.txt. Queries whose
construction itself fails are recorded with the error text so the
artifact set stays complete.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    tag, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import __spark_entry__ as entrymod
    from cs598vectordb_spark.session import get_spark

    spark = get_spark("dump-plans")
    qs = entrymod.queries()
    if not names:
        import bench

        names = bench.HEADLINE

    # index probes need the warm registry, same as the bench
    from cs598vectordb_spark.queries_index import warm_indexes

    warm_indexes(spark, sf_dir)

    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        try:
            df = qs[name](spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            text = buf.getvalue()
        except Exception as exc:  # record, keep sweeping
            text = f"PLAN CAPTURE FAILED: {type(exc).__name__}: {exc}\n"
        with open(path, "w") as fh:
            fh.write(text)
        print(f"wrote {path} ({len(text)} chars)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
