"""Local stand-in for the driver's correctness gate: run every
``queries()`` entry on Spark at sf0.01 and its ``oracle_sql()`` twin on
DuckDB, compare row count + order-insensitive value hash (columns sorted
by name, every value stringified).

Usage: python tools/check_contract.py [sf_dir] [only_query ...]

An ``only_query`` name that ``queries()`` does not define fails the run
before Spark starts.
"""

from __future__ import annotations

import hashlib
import sys
import time

import duckdb

sys.path.insert(0, ".")


def norm_cell(v) -> str:
    import datetime
    import math

    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(round(v, 9))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def table_hash(cols: list[str], rows: list[tuple]) -> tuple[int, str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return len(rows), h


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from rdfshape_api_spark.session import get_spark

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    unknown = sorted(only - set(qs))
    if unknown:
        print("unknown entries:", " ".join(unknown))
        return 1

    spark = get_spark()
    con = duckdb.connect()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
            n_s, h_s = table_hash(cols, rows)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error {type(e).__name__}: {str(e)[:200]}")
            failures += 1
            continue
        dt = time.time() - t0
        sql = oracles.get(name)
        if sql is None:
            print(f"rows  {name}: {n_s} rows (no oracle) [{dt:.1f}s]")
            continue
        try:
            res = con.execute(sql)
            o_cols = [d[0] for d in res.description]
            o_rows = res.fetchall()
            n_o, h_o = table_hash(o_cols, o_rows)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: oracle error {type(e).__name__}: {str(e)[:200]}")
            failures += 1
            continue
        if sorted(cols) != sorted(o_cols):
            print(f"FAIL  {name}: schema mismatch spark={sorted(cols)} oracle={sorted(o_cols)}")
            failures += 1
        elif (n_s, h_s) != (n_o, h_o):
            print(f"FAIL  {name}: spark {n_s}/{h_s} vs oracle {n_o}/{h_o} [{dt:.1f}s]")
            failures += 1
        else:
            print(f"OK    {name}: {n_s} rows hash={h_s} [{dt:.1f}s]")
    print("failures:", failures)
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
