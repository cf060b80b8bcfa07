"""Self-check of the driver contract: every queries() entry vs its DuckDB
oracle at sf0.01 (same comparison shape as the driver's CORRECTNESS gate).

Usage: python scripts/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from ufo_dedup_spark.session import build_session  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(rows, cols):
    """Order-insensitive canonical form: sort columns by name, stringify."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                if math.isnan(v):
                    vals.append("nan")
                else:
                    vals.append(f"{v:.9g}")
            else:
                vals.append(str(v))
        out.append("\x01".join(vals))
    out.sort()
    return out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = build_session(app_name="check-correctness", master="local[8]")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir)
        s_cols = sdf.columns
        s_rows = [tuple(r) for r in sdf.collect()]
        if name not in oracles:
            print(f"  {name:30s} rows-only: {len(s_rows)} rows")
            continue
        try:
            o = con.execute(oracles[name])
            o_cols = [d[0] for d in o.description]
            o_rows = o.fetchall()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"✗ {name:30s} ORACLE ERROR: {exc}")
            continue
        ok = True
        if sorted(s_cols) != sorted(o_cols):
            ok = False
            print(f"✗ {name:30s} SCHEMA spark={sorted(s_cols)} duck={sorted(o_cols)}")
        elif len(s_rows) != len(o_rows):
            ok = False
            print(f"✗ {name:30s} ROWS spark={len(s_rows)} duck={len(o_rows)}")
        else:
            cs, co = canon(s_rows, s_cols), canon(o_rows, o_cols)
            if cs != co:
                ok = False
                diff = [(a, b) for a, b in zip(cs, co) if a != b][:3]
                print(f"✗ {name:30s} VALUES differ, e.g. {diff}")
        if ok:
            print(f"✓ {name:30s} {len(s_rows)} rows")
        else:
            failures.append(name)

    spark.stop()
    if failures:
        print(f"\nFAILED: {failures}")
        sys.exit(1)
    print("\nall queries match oracle")


if __name__ == "__main__":
    main()
