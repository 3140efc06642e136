"""Contention probe for the retrying workspace commit path (VERDICT r10
ask #2's scale story): N threads hammer ONE workspace with two-table
atomic commits, each relying on ws_commit(max_retries=...) to win
eventually — measuring total throughput, how many CAS retries actually
happened, and that the run ends with zero orphan debris (every loser
reused its written data dirs).

Usage: PYTHONPATH=. python tools/ws_contention_probe.py [writers] [commits_each]
Prints one JSON line.
"""

from __future__ import annotations

import json
import sys
import tempfile
import threading
import time


def main() -> None:
    from pyspark.sql import functions as F

    import apache_iceberg_spark.catalog.workspace as W
    from apache_iceberg_spark.session import get_spark

    n_writers = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    n_each = int(sys.argv[2]) if len(sys.argv) > 2 else 25
    spark = get_spark("ws_contention", cpus=8, shuffle_partitions=4)
    ws = tempfile.mkdtemp(prefix="ws_contend_")
    W.ws_commit(ws, {"t": spark.range(1).select(F.col("id"))}, ts_ms=0)

    # count retries by instrumenting the conflict exception
    retries = [0]
    lock = threading.Lock()
    orig_init = W.CommitConflict.__init__

    def counting_init(self, *a, **k):  # noqa: ANN001
        with lock:
            retries[0] += 1
        orig_init(self, *a, **k)

    W.CommitConflict.__init__ = counting_init
    errors: list[Exception] = []

    def writer(w: int) -> None:
        try:
            for i in range(n_each):
                raw = spark.range(w * 10_000 + i * 10, w * 10_000 + i * 10 + 5).select(
                    F.col("id"), (F.col("id") % 3).alias("k")
                )
                agg = raw.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
                W.ws_commit(
                    ws,
                    {"raw": raw, "agg": agg},
                    idempotency_key=f"w{w}-b{i}",
                    max_retries=50,
                    ts_ms=1 + w * n_each + i,
                )
        except Exception as exc:  # pragma: no cover
            errors.append(exc)

    t0 = time.time()
    threads = [
        threading.Thread(target=writer, args=(w,)) for w in range(n_writers)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wall = time.time() - t0
    W.CommitConflict.__init__ = orig_init
    assert not errors, errors

    n_commits = n_writers * n_each
    versions = len(W.ws_list_versions(ws))
    orphans = W.ws_remove_orphans(ws)
    raw_rows = W.ws_read(spark, ws, "raw").count()
    print(
        json.dumps(
            {
                "writers": n_writers,
                "commits": n_commits,
                "versions": versions,
                "all_landed": versions == n_commits + 1,
                "wall_s": round(wall, 1),
                "commits_per_s": round(n_commits / wall, 2),
                "cas_retries": retries[0],
                "retries_per_commit": round(retries[0] / n_commits, 2),
                "orphans_after": len(orphans),
                "raw_rows": raw_rows,
                "rows_expected": 5 * n_commits,
            },
            separators=(",", ":"),
        )
    )


if __name__ == "__main__":
    main()
