"""Workspace endurance probe (VERDICT r10 ask #7): run the st20 shape —
ONE two-table atomic workspace commit per micro-batch, with the batch id
as idempotency key — for N batches with an expiry + orphan-GC cadence,
and record that per-commit latency, log size, and data-dir count stay
FLAT. This is the integration proof that the round-11 commit-path fixes
compose: O(1)-bytes segment appends (ask #1), the O(1) idempotency
index (ask #4), and expiry-as-compaction bounding the read side.

Usage:
  PYTHONPATH=. python tools/ws_endurance_probe.py [n] [cadence]
Defaults: n=1000 micro-batches, expiry every 200 with keep_last=25.
Prints one JSON line: per-commit latency by decile, log/segment sizes,
and data-dir counts sampled at each expiry point.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time


def main() -> None:
    from pyspark.sql import functions as F

    from apache_iceberg_spark.catalog.workspace import (
        ws_commit,
        ws_expire_versions,
        ws_list_versions,
        ws_read,
        ws_remove_orphans,
    )
    from apache_iceberg_spark.session import get_spark

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1000
    cadence = int(sys.argv[2]) if len(sys.argv) > 2 else 200
    keep_last = 25
    spark = get_spark("ws_endurance", cpus=8, shuffle_partitions=4)
    ws = tempfile.mkdtemp(prefix="ws_endurance_")
    seg = os.path.join(ws, "_versions.jsonl")
    base = os.path.join(ws, "_versions.json")

    def dir_count() -> int:
        c = 0
        for t in os.listdir(ws):
            full = os.path.join(ws, t)
            if os.path.isdir(full) and not t.startswith("_"):
                c += len(os.listdir(full))
        return c

    lat: list[float] = []
    checkpoints: list[dict] = []
    t_start = time.time()
    for i in range(n):
        # st20's per-batch publish: raw events + their aggregate, one
        # atomic commit, batch id as the exactly-once key.
        raw = spark.range(i * 10, (i + 1) * 10).select(
            F.col("id"), (F.col("id") % 7).alias("k")
        )
        agg = raw.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
        t0 = time.time()
        ws_commit(
            ws,
            {"raw": raw, "agg": agg},
            idempotency_key=f"batch-{i}",
            ts_ms=1000 + i,
            max_retries=3,
        )
        lat.append(time.time() - t0)
        if (i + 1) % cadence == 0:
            # The maintenance triple a production stream runs at cadence:
            # (1) rewrite_data_files — compact the accumulated per-batch
            #     small files into one set restatement (an overwrite
            #     ws_commit of the table's own content);
            # (2) truncating expiry — heads-only ref protection so the
            #     linear history actually cuts to keep_last + ts window;
            # (3) orphan GC for CAS-loser debris.
            raw_now = ws_read(spark, ws, "raw")
            agg_now = raw_now.groupBy("k").agg(
                F.count(F.lit(1)).alias("n")
            )
            ws_commit(
                ws,
                {"raw": raw_now, "agg": agg_now},
                mode="overwrite",
                ts_ms=1000 + i,
                idempotency_key=f"compact-{i}",
            )
            ws_expire_versions(
                ws,
                older_than_ms=10_000_000,
                keep_last=keep_last,
                truncate_history=True,
            )
            ws_remove_orphans(ws)
            checkpoints.append(
                {
                    "batch": i + 1,
                    "versions": len(ws_list_versions(ws)),
                    "seg_bytes": (
                        os.path.getsize(seg) if os.path.exists(seg) else 0
                    ),
                    "base_bytes": (
                        os.path.getsize(base) if os.path.exists(base) else 0
                    ),
                    "data_dirs": dir_count(),
                    "mean_commit_s_this_window": round(
                        sum(lat[-cadence:]) / cadence, 4
                    ),
                }
            )

    # Read-back sanity: the retained raw table equals the last
    # keep_last-ish batches' union (every batch landed exactly once).
    n_raw = ws_read(spark, ws, "raw").count()
    deciles = sorted(lat)
    summary = {
        "batches": n,
        "cadence": cadence,
        "keep_last": keep_last,
        "wall_s": round(time.time() - t_start, 1),
        "commit_s_p10": round(deciles[n // 10], 4),
        "commit_s_p50": round(deciles[n // 2], 4),
        "commit_s_p90": round(deciles[(9 * n) // 10], 4),
        "commit_s_first100_mean": round(sum(lat[:100]) / 100, 4),
        "commit_s_last100_mean": round(sum(lat[-100:]) / 100, 4),
        "raw_rows_retained": n_raw,
        "checkpoints": checkpoints,
    }
    print(json.dumps(summary, separators=(",", ":")))


if __name__ == "__main__":
    main()
