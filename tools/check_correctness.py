"""Local mimic of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
at the given SF dir, then compares row count, column names, and an
order-insensitive value hash (rows sorted, columns sorted by name, values
stringified). Exact float equality is intentional: the engine's oracle
queries are designed to be bitwise-deterministic (see registry docstring).

Runs at any scale factor, on every query or only the named ones, and
prints each query's Spark and DuckDB wall times (``t_spark``/``t_duck``).

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time
import traceback

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def norm_value(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_value(x) for x in v) + "]"
    return str(v)


def table_digest(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted(
        "\x1f".join(norm_value(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\x1e")
    return h.hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from apache_iceberg_spark.session import get_spark

    spark = get_spark("correctness-check", cpus=8)
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    n_pass = n_fail = n_noracle = 0
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.monotonic()
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception:
            print(f"FAIL {name}: SPARK ERROR")
            traceback.print_exc()
            n_fail += 1
            failures.append(name)
            continue
        t_spark = time.monotonic() - t0
        if name not in oracles:
            print(f"  ok {name}: rows-only ({len(srows)} rows) "
                  f"[t_spark={t_spark:.2f}s]")
            n_noracle += 1
            continue
        t0 = time.monotonic()
        try:
            res = con.execute(oracles[name])
            drows = res.fetchall()
            dcols = [d[0] for d in res.description]
        except Exception:
            print(f"FAIL {name}: DUCKDB ERROR")
            traceback.print_exc()
            n_fail += 1
            failures.append(name)
            continue
        times = f"[t_spark={t_spark:.2f}s t_duck={time.monotonic() - t0:.2f}s]"
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
        if not problems:
            sh = table_digest(srows, scols)
            dh = table_digest(drows, dcols)
            if sh != dh:
                problems.append(f"hash spark={sh} duck={dh}")
                # show first differing rows for debugging
                so = sorted(
                    ["\x1f".join(norm_value(r[i]) for i in sorted(range(len(scols)), key=lambda i: scols[i])) for r in srows]
                )
                do = sorted(
                    ["\x1f".join(norm_value(r[i]) for i in sorted(range(len(dcols)), key=lambda i: dcols[i])) for r in drows]
                )
                for a, b in zip(so, do):
                    if a != b:
                        print(f"    first-diff spark: {a[:200]}")
                        print(f"    first-diff duck : {b[:200]}")
                        break
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)} {times}")
            n_fail += 1
            failures.append(name)
        else:
            print(f"  ok {name}: {len(srows)} rows match {times}")
            n_pass += 1

    print(
        f"\n{n_pass} pass, {n_fail} fail, {n_noracle} rows-only"
        + (f"; failures: {failures}" if failures else "")
    )
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
