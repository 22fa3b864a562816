"""Local replica of the driver's t2 correctness gate.

Runs every ``queries()`` entry from ``__spark_entry__`` and compares it
against the matching ``oracle_sql()`` via DuckDB on the same parquet
tables: row count, column names, and an order-insensitive value
comparison (floats rounded to 5 decimals for the comparison itself —
both engines already round to 6 in the query).

Usage: python scripts/check_oracle.py [sf_dir] [query ...]

Each ``query`` is an ``fnmatch`` pattern over the entry names
(``'maxsim*'`` runs every MaxSim entry); an exact name matches only
itself. A pattern that matches no entry fails the run (exit 1), so a
mistyped name cannot pass by running nothing.
"""

from __future__ import annotations

import fnmatch
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_val(v):
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 5)
    if isinstance(v, (list, tuple)):
        return tuple(norm_val(x) for x in v)
    try:  # Decimal and numpy scalars
        import decimal

        if isinstance(v, decimal.Decimal):
            return round(float(v), 5)
    except Exception:
        pass
    return v


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_val(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out, key=repr)


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = sys.argv[2:]

    import duckdb

    import __spark_entry__ as E
    from qdrant_spark.session import get_spark

    spark = get_spark(app_name="oracle-check", cpus=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs, oracles = E.queries(), E.oracle_sql()
    unmatched = [p for p in only
                 if not any(fnmatch.fnmatchcase(name, p) for name in qs)]
    failed = []
    ran = 0
    t_all = time.time()
    for name, fn in qs.items():
        if only and not any(fnmatch.fnmatchcase(name, p) for p in only):
            continue
        ran += 1
        t0 = time.time()
        try:
            df = fn(spark, sf)
            scols = df.columns
            srows = [tuple(r) for r in df.collect()]
        except Exception as ex:
            print(f"FAIL  {name}: spark error: {ex}")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"ok?   {name}: rows={len(srows)} (no oracle — rows-only check)")
            continue
        try:
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as ex:
            print(f"FAIL  {name}: duckdb error: {ex}")
            failed.append(name)
            continue
        sc, sr = norm_rows(scols, srows)
        oc, orr = norm_rows(ocols, orows)
        dt = time.time() - t0
        if sc != oc:
            print(f"FAIL  {name}: columns {sc} != {oc}")
            failed.append(name)
        elif len(sr) != len(orr):
            print(f"FAIL  {name}: rowcount {len(sr)} != {len(orr)}")
            failed.append(name)
        elif sr != orr:
            diff = [(a, b) for a, b in zip(sr, orr) if a != b][:3]
            print(f"FAIL  {name}: values differ, e.g. {diff}")
            failed.append(name)
        else:
            print(f"PASS  {name}: rows={len(sr)} cols={sc} ({dt:.1f}s)")
    spark.stop()
    print(f"\ntotal {time.time() - t_all:.1f}s, {ran} entries ran")
    if unmatched:
        print(f"{len(unmatched)} pattern(s) matched no entry: {unmatched}")
    if failed:
        print(f"{len(failed)} FAILED: {failed}")
    if unmatched or failed:
        return 1
    print("ALL PASS")
    return 0


if __name__ == "__main__":
    sys.exit(main())
