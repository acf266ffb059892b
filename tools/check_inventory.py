"""Local rehearsal of the driver's correctness gate.

Runs every queries() entry on Spark and its oracle_sql() on DuckDB over
the same parquet dir, then compares row count, column names, and
(order-insensitively) values. Usage:

    python tools/check_inventory.py [sf_dir] [name ...]
"""

from __future__ import annotations

import math
import sys
import time

import duckdb

sys.path.insert(0, ".")

from bigsdb_spark.inventory import ORACLES, QUERIES  # noqa: E402
from bigsdb_spark.materialize import scope  # noqa: E402
from bigsdb_spark.session import get_spark  # noqa: E402
from bigsdb_spark.sources.tables import TABLES  # noqa: E402


def canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bool):
        return int(v)
    return v


def _null_last(t):
    # sort key tolerating NULLs (the driver's pandas sort handles NaN;
    # plain tuple sorting would raise on None < str)
    return tuple((v is None, "" if v is None else v) for v in t)


def rows_key(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(canon(r[i]) for i in order) for r in rows), key=_null_last
    )


def main():
    import os

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:]) or None
    # r13 (VERDICT r12 #7): contamination telemetry up front — ambient
    # load explains slow per-check seconds without forensic recovery
    print("loadavg_start", [round(x, 2) for x in os.getloadavg()])
    spark = get_spark("check_inventory")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    failures = []
    for name, fn in sorted(QUERIES.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            with scope():
                sdf = fn(spark, sf_dir)
                scols = sdf.columns
                srows = sdf.collect()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in ORACLES:
            print(f"ok*   {name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            res = con.execute(ORACLES[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        problems = []
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
        elif len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        else:
            sk = rows_key(scols, [tuple(r) for r in srows])
            dk = rows_key(dcols, drows)
            if sk != dk:
                diff = [(a, b) for a, b in zip(sk, dk) if a != b][:3]
                problems.append(f"values differ, first diffs: {diff}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            failures.append(name)
        else:
            print(f"ok    {name}: {len(srows)} rows  ({time.time()-t0:.1f}s)")
    print()
    if failures:
        print(f"{len(failures)} FAILURES: {failures}")
        sys.exit(1)
    print("loadavg_end", [round(x, 2) for x in os.getloadavg()])
    print(f"all {len([n for n in QUERIES if not only or n in only])} checks passed")


if __name__ == "__main__":
    main()
