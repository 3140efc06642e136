"""Simulate the driver's pandas-based differential harness.

The builder's pytest gate (tests/test_queries_oracle.py) compares DuckDB
``fetchall()`` Python values, where a HUGEINT stays ``int``. The driver
instead materializes both sides as pandas DataFrames, where DuckDB HUGEINT
becomes float64 ("655.0" vs Spark's "655") and array columns make
``sort_values`` raise ``unhashable type: 'list'``. This tool replays that
stricter comparison for every registered query so type-shape regressions
surface locally before the driver sees them.

Usage: python tools/driver_sim.py [sf_dir] [query ...]
Prints one line per query: OK / MISMATCH(reason) / ERROR.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import datetime
import decimal
import hashlib
import math

import numpy as np
import pandas as pd


def _norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, (np.floating, float)):
        f = float(v)
        return "NaN" if math.isnan(f) else repr(f)
    if isinstance(v, (bool, np.bool_)):
        return "true" if v else "false"
    if isinstance(v, (np.integer, int)):
        return repr(int(v))
    if isinstance(v, decimal.Decimal):
        return "DECIMAL:" + str(v)
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (pd.Timestamp, datetime.datetime, datetime.date)):
        return str(v)
    if isinstance(v, (list, tuple, np.ndarray)):
        # the real driver raises here; keep it visible as a distinct token
        return "ARRAY[" + ",".join(_norm_cell(x) for x in v) + "]"
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    try:
        if pd.isna(v):
            return "NULL"
    except (TypeError, ValueError):
        pass
    return str(v)


def _canon(df: pd.DataFrame) -> tuple[str, bool]:
    """Sorted-value digest; second element reports whether sort_values
    raised (the driver's unhashable-array failure mode)."""
    df = df[sorted(df.columns)]
    sort_failed = False
    try:
        df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
        lines = sorted(
            "\x1f".join(_norm_cell(v) for v in row)
            for row in df.itertuples(index=False, name=None)
        )
    except TypeError:
        sort_failed = True
        lines = sorted(
            "\x1f".join(_norm_cell(v) for v in row)
            for row in df.itertuples(index=False, name=None)
        )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\x1e")
    return h.hexdigest(), sort_failed


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import duckdb

    from apache_iceberg_spark.registry import REGISTRY, _ensure_loaded
    from apache_iceberg_spark.session import get_spark

    _ensure_loaded()
    spark = get_spark("driver_sim", cpus=8, shuffle_partitions=8)
    duck = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        duck.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    n_bad = 0
    for name in sorted(REGISTRY):
        if only and name not in only:
            continue
        q = REGISTRY[name]
        try:
            spdf = q.spark(spark, sf_dir).toPandas()
            if q.oracle is None:
                print(f"{name}: OK (rows-only, {len(spdf)} rows)")
                continue
            dpdf = duck.execute(q.oracle).df()
        except Exception as exc:  # noqa: BLE001
            n_bad += 1
            print(f"{name}: ERROR {type(exc).__name__}: {exc}")
            continue

        problems = []
        if len(spdf) != len(dpdf):
            problems.append(f"rows {len(spdf)} vs {len(dpdf)}")
        if sorted(spdf.columns) != sorted(dpdf.columns):
            problems.append(
                f"cols {sorted(spdf.columns)} vs {sorted(dpdf.columns)}"
            )
        else:
            for c in sorted(spdf.columns):
                sk = spdf[c].dtype.kind
                dk = dpdf[c].dtype.kind
                if sk != dk:
                    problems.append(f"dtype[{c}] {spdf[c].dtype} vs {dpdf[c].dtype}")
            sh, s_arr = _canon(spdf)
            dh, d_arr = _canon(dpdf)
            if s_arr or d_arr:
                problems.append("unhashable array column (driver would die)")
            if sh != dh:
                problems.append("value hash")
        if problems:
            n_bad += 1
            print(f"{name}: MISMATCH {'; '.join(problems)}")
        else:
            print(f"{name}: OK ({len(spdf)} rows)")
    print(f"\n{'FAIL' if n_bad else 'PASS'}: {n_bad} problem queries")
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main())
