"""Local stand-in for the driver's t2 correctness gate.

Runs every queries()[name] on Spark and the matching oracle_sql()[name] on
DuckDB at sf0.01, compares row count, column names, and an order-insensitive
value hash (rows sorted, columns sorted by name, values stringified with
repr-stable formatting). Exit non-zero on any mismatch.

Usage: python tools/check_oracle.py [name ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _canon(v) -> str:
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # driver-style value canonicalization: fixed precision
        return f"{v:.6f}"
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    return str(v)


def _hash_rows(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def _bare_spark():
    """A session shaped like the driver's: NO engine configs (no
    nanosAsLong, no UTC pin, default shuffle partitions semantics) — every
    queries() entry must survive this, setting what it needs at runtime.
    Round 1 lesson: 9 queries passed the old get_spark()-based gate and
    died in the driver's bare session on events.parquet's TIMESTAMP(NANOS).
    Set SPARK_GRAFT_ORACLE_ENGINE_SESSION=1 to use the tuned builder."""
    if os.environ.get("SPARK_GRAFT_ORACLE_ENGINE_SESSION"):
        from cs598vectordb_spark.session import get_spark

        return get_spark("oracle-check")
    from pyspark.sql import SparkSession

    from cs598vectordb_spark.session import driver_memory

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("oracle-check")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", driver_memory())
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark


def main() -> int:
    import __spark_entry__ as entrymod

    only = set(sys.argv[1:])
    qs = entrymod.queries()
    # oracle_sql_for, not the driver's static oracle_sql(): sidecar-
    # backed oracles (dsir_logweights, bpe_token_stats) embed the
    # grading fixture's export path, and an SPARK_GRAFT_ORACLE_SF
    # override must join THAT scale's sidecar (ADVICE r13). At the
    # default sf0.01 the two calls return identical strings.
    from cs598vectordb_spark.registry import oracle_sql_for, queued_oracle_sql

    oracles = dict(oracle_sql_for(SF_DIR))
    # QUEUED oracles (authored + value-verified, awaiting a grading
    # slot — registry.queued_oracle_sql): verified here ONLY when the
    # entry is explicitly named, so the default all-queries sweep keeps
    # mirroring exactly what the driver grades. The queued SQL bakes
    # the default grading SF's sidecar paths — skip under an SF
    # override rather than fail on a missing export.
    if only and SF_DIR.rstrip("/").endswith("sf0.01"):
        for qname, qsql in queued_oracle_sql().items():
            if qname in only and qname not in oracles:
                print(f"  {qname:28s} (using QUEUED oracle)")
                oracles[qname] = qsql

    spark = _bare_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:  # keep sweeping — one broken entry must
            # not hide the state of the other 100+ (the driver's gate
            # records per-entry errors the same way)
            print(f"  {name:28s} ERROR {type(exc).__name__}: {exc}")
            failures.append((name, f"{type(exc).__name__}: {exc}"))
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"  {name:28s} rows={len(srows):7d} (rows-only, no oracle) [{t_spark:.1f}s]")
            if len(srows) == 0:
                failures.append((name, "rows-only query returned 0 rows"))
            continue
        t0 = time.time()
        ddf = con.execute(oracles[name])
        dcols = [d[0] for d in ddf.description]
        drows = ddf.fetchall()
        t_duck = time.time() - t0

        problems = []
        if sorted(scols) != sorted(dcols):
            problems.append(f"schema: spark={sorted(scols)} duck={sorted(dcols)}")
        if len(srows) != len(drows):
            problems.append(f"rowcount: spark={len(srows)} duck={len(drows)}")
        if not problems:
            hs, hd = _hash_rows(scols, srows), _hash_rows(dcols, drows)
            if hs != hd:
                problems.append(f"valuehash: spark={hs} duck={hd}")
                # show a few diffs
                order_s = sorted(range(len(scols)), key=lambda i: scols[i])
                order_d = sorted(range(len(dcols)), key=lambda i: dcols[i])
                set_s = {tuple(_canon(r[i]) for i in order_s) for r in srows}
                set_d = {tuple(_canon(r[i]) for i in order_d) for r in drows}
                for x in list(set_s - set_d)[:3]:
                    problems.append(f"  spark-only: {x}")
                for x in list(set_d - set_s)[:3]:
                    problems.append(f"  duck-only:  {x}")
        status = "OK " if not problems else "FAIL"
        print(
            f"  {name:28s} rows={len(srows):7d} {status} [spark {t_spark:.1f}s, duck {t_duck:.1f}s]"
        )
        for p in problems:
            print(f"      {p}")
        if problems:
            failures.append((name, problems[0]))

    print()
    if failures:
        print(f"{len(failures)} FAILURES: {[f[0] for f in failures]}")
        return 1
    print(f"all {len([n for n in qs if not only or n in only])} checked queries OK")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
