"""Local emulation of the driver's correctness gate: run each
__spark_entry__.queries() entry and its oracle_sql() twin side by side,
compare row count + column names + order-insensitive values.

Usage: python tools/check_gate.py [sf_dir] [--only name1,name2]
"""

from __future__ import annotations

import math
import os
import sys

# this checkout's root, so a gate run from any copy checks that copy's code
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


def normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = round(v, 9)
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=repr)
    return out


def main():
    args = sys.argv[1:]
    only = None
    if "--only" in args:
        i = args.index("--only")
        if i + 1 >= len(args):
            sys.exit("usage: check_gate.py [sf_dir] [--only name1,name2]")
        only = set(args[i + 1].split(","))
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    import duckdb

    import __spark_entry__ as entrymod
    from searchengine_spark.session import get_spark

    spark = get_spark(cpus=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only is not None and name not in only:
            continue
        sdf = fn(spark, sf_dir)
        srows = [tuple(r) for r in sdf.collect()]
        scols = sdf.columns
        rel = con.sql(oracles[name])
        drows = rel.fetchall()
        dcols = [d[0] for d in rel.description]
        status = []
        if sorted(scols) != sorted(dcols):
            status.append(f"SCHEMA spark={scols} duck={dcols}")
        if len(srows) != len(drows):
            status.append(f"ROWS spark={len(srows)} duck={len(drows)}")
        if not status:
            a, b = normalize(srows, scols), normalize(drows, dcols)
            if a != b:
                diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
                status.append(f"VALUES first diffs: {diffs}")
        if status:
            failures.append(name)
            print(f"FAIL {name}: {'; '.join(status)}")
        else:
            print(f"OK   {name}  ({len(srows)} rows)")
    print()
    print("RESULT:", "ALL OK" if not failures else f"{len(failures)} failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
