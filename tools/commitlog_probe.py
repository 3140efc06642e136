"""Commit-log probes for the metadata commit path (no Spark involved).

Two modes:

``bytes [n]`` (default, VERDICT r10 ask #1's done-criterion): per-commit
metadata BYTES at 10k commits through the real ``_append_commit`` path
(lock, CAS, segment append). Round-10 rewrote the whole log per commit
(O(commits) bytes per commit, 7.47 GB cumulative at 10k — SCALE_NOTES
§ref-log); the round-11 segment append is O(1) bytes per commit. Run
with auto-compaction DISABLED so the byte accounting isolates the
append path.

``wall [n]`` (VERDICT r11 ask #1's done-criterion): per-commit WALL
TIME at 100k commits through the FULL ``commit_append_ref`` and
``ws_commit`` paths — plan (refs read, idempotency probe, head +
parent-layout resolution), data-dir write (injected ``mkdir`` via the
``_write`` probe hook, so no 100k Spark jobs), and the lock+CAS+fsync
commit point — with NO expiry and NO compaction (``--no-autocompact``
is implied for the headline numbers; a second pass runs with
auto-compaction on to show the maintenance path also stays amortized-
flat). Round 11 parsed the full log per commit at plan time (O(commits)
CPU per commit); round 12's incremental log-state cache parses only the
segment lines appended since the last read, so the per-commit wall must
be FLAT in history length. Flatness is reported as first-decile vs
last-decile mean wall.

The probe passes NO idempotency keys: an unexpiring keyed stream grows
``_refs.json`` O(commits) by design (the key index IS the idempotency
window), and the documented contract is that keyed streams run the
retention cadence (``tools/ws_endurance_probe.py`` holds a keyed
1000-batch stream flat with expiry every 200 batches).

Usage:
  PYTHONPATH=. python tools/commitlog_probe.py [bytes|wall] [n]
Prints one JSON line per mode section.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time


def bytes_mode(n: int) -> None:
    import apache_iceberg_spark.catalog.snapshots as S
    from apache_iceberg_spark.catalog.snapshots import (
        _append_commit,
        _read_log,
    )

    S.AUTO_COMPACT_MIN_SEGMENT_BYTES = None  # isolate the append path
    table = tempfile.mkdtemp(prefix="logprobe_") + "/t"
    os.makedirs(table)
    seg = os.path.join(table, "_versions.jsonl")

    # st19-shape entries in the one file-set payload: one 60-byte data
    # path added per commit, as a ``[path, v]`` item.
    per_commit_bytes: list[int] = []
    prev_size = 0
    t0 = time.time()
    head = None
    for v in range(1, n + 1):
        path = f"{table}/d{v}-{'x' * max(0, 52 - len(str(v)))}"
        entry = (
            {"version": 1, "ts_ms": v, "set": [[path, v]], "partition_by": None}
            if v == 1
            else {
                "version": v,
                "ts_ms": v,
                "adds": [[path, v]],
                "parent": v - 1,
                "partition_by": None,
            }
        )
        _append_commit(table, entry, expected_head=head)
        head = v
        size = os.path.getsize(seg)
        per_commit_bytes.append(size - prev_size)
        prev_size = size
    wall = time.time() - t0

    # Verify the log still resolves end-to-end after the appends.
    log = _read_log(table)
    assert len(log) == n, (len(log), n)

    # The r10 comparison: a whole-file rewrite per commit writes the
    # ENTIRE log each time -> cumulative = sum of prefix sizes. Compute
    # it analytically from the same entry sizes.
    csum = 0
    rewrite_cum = 0
    for b in per_commit_bytes:
        csum += b
        rewrite_cum += csum

    per_sorted = sorted(per_commit_bytes)
    print(
        json.dumps(
            {
                "mode": "bytes",
                "commits": n,
                "per_commit_bytes_first": per_commit_bytes[0],
                "per_commit_bytes_median": per_sorted[n // 2],
                "per_commit_bytes_last": per_commit_bytes[-1],
                "cumulative_bytes_written": csum,
                "log_size_bytes": os.path.getsize(seg),
                "whole_file_rewrite_cumulative_bytes": rewrite_cum,
                "reduction_factor": round(rewrite_cum / max(1, csum), 1),
                "wall_s": round(wall, 2),
                "commits_per_s": round(n / wall, 1),
            },
            separators=(",", ":"),
        )
    )


def _log_bytes(path: str) -> int:
    """Bytes of a log's base file plus its append segment."""
    return sum(
        os.path.getsize(os.path.join(path, f))
        for f in ("_versions.json", "_versions.jsonl")
        if os.path.exists(os.path.join(path, f))
    )


def _wall_stats(lat: list[float], extra: dict) -> dict:
    n = len(lat)
    dec = max(1, n // 10)
    srt = sorted(lat)
    first = sum(lat[:dec]) / dec
    last = sum(lat[-dec:]) / dec
    return {
        **extra,
        "commits": n,
        "wall_s": round(sum(lat), 2),
        "commits_per_s": round(n / max(1e-9, sum(lat)), 1),
        "us_p50": round(srt[n // 2] * 1e6, 1),
        "us_p99": round(srt[(99 * n) // 100] * 1e6, 1),
        "us_first_decile_mean": round(first * 1e6, 1),
        "us_last_decile_mean": round(last * 1e6, 1),
        "last_over_first": round(last / max(1e-9, first), 3),
    }


def wall_mode(n: int) -> None:
    import apache_iceberg_spark.catalog.snapshots as S
    from apache_iceberg_spark.catalog.snapshots import (
        commit_append_ref,
        commit_snapshot,
        create_branch,
    )
    from apache_iceberg_spark.catalog.workspace import ws_commit

    class _Seed:
        """commit_snapshot needs one real write to seed v1; fake it with
        the same directory shape the probe hook writes."""

        class write:  # noqa: N801 - mimics DataFrame.write chaining
            mode = classmethod(lambda cls, _m: cls)
            parquet = staticmethod(lambda ddir: os.makedirs(ddir))

    for autocompact in (False, True):
        S.AUTO_COMPACT_MIN_SEGMENT_BYTES = 256 * 1024 if autocompact else None
        table = tempfile.mkdtemp(prefix="wallprobe_t_") + "/t"
        os.makedirs(table)
        commit_snapshot(_Seed(), table, ts_ms=0)
        create_branch(table, "etl")
        lat: list[float] = []
        for i in range(n):
            t0 = time.perf_counter()
            commit_append_ref(
                None,
                table,
                branch="etl",
                ts_ms=i,
                _write=os.makedirs,
            )
            lat.append(time.perf_counter() - t0)
        seg = os.path.join(table, "_versions.jsonl")
        base = os.path.join(table, "_versions.json")
        print(
            json.dumps(
                _wall_stats(
                    lat,
                    {
                        "mode": "wall_table",
                        "autocompact": autocompact,
                        "seg_bytes": (
                            os.path.getsize(seg) if os.path.exists(seg) else 0
                        ),
                        "base_bytes": (
                            os.path.getsize(base)
                            if os.path.exists(base)
                            else 0
                        ),
                        "log_bytes_per_commit": round(
                            _log_bytes(table) / (n + 1), 1
                        ),
                    },
                ),
                separators=(",", ":"),
            ),
            flush=True,
        )

    # Workspace layer: the st20 shape minus Spark (two tables per commit).
    S.AUTO_COMPACT_MIN_SEGMENT_BYTES = None
    ws = tempfile.mkdtemp(prefix="wallprobe_ws_")
    lat = []
    hook = lambda name, df, ddir: os.makedirs(ddir)  # noqa: E731
    for i in range(n):
        t0 = time.perf_counter()
        ws_commit(
            ws, {"raw": None, "agg": None}, ts_ms=i, _write=hook
        )
        lat.append(time.perf_counter() - t0)
    print(
        json.dumps(
            _wall_stats(
                lat,
                {
                    "mode": "wall_workspace",
                    "autocompact": False,
                    "log_bytes_per_commit": round(_log_bytes(ws) / n, 1),
                },
            ),
            separators=(",", ":"),
        ),
        flush=True,
    )

    # KEYED stream with the bounded idempotency window (round 12): the
    # st19 shape — one batch-id key per commit — with keys_max keeping
    # _refs.json O(1). Without the bound, the key index grows
    # O(commits) and each commit's refs rewrite grows with it; with it,
    # the refs file size and the per-commit wall are both flat.
    table = tempfile.mkdtemp(prefix="wallprobe_k_") + "/t"
    os.makedirs(table)
    commit_snapshot(_Seed(), table, ts_ms=0)
    create_branch(table, "etl")
    lat = []
    for i in range(n):
        t0 = time.perf_counter()
        commit_append_ref(
            None,
            table,
            branch="etl",
            ts_ms=i,
            idempotency_key=f"batch-{i}",
            keys_max=64,
            _write=os.makedirs,
        )
        lat.append(time.perf_counter() - t0)
    print(
        json.dumps(
            _wall_stats(
                lat,
                {
                    "mode": "wall_table_keyed",
                    "keys_max": 64,
                    "refs_bytes": os.path.getsize(
                        os.path.join(table, "_refs.json")
                    ),
                    "log_bytes_per_commit": round(
                        _log_bytes(table) / (n + 1), 1
                    ),
                },
            ),
            separators=(",", ":"),
        ),
        flush=True,
    )


def main() -> None:
    args = sys.argv[1:]
    mode = "bytes"
    if args and args[0] in ("bytes", "wall"):
        mode = args.pop(0)
    if mode == "bytes":
        bytes_mode(int(args[0]) if args else 10_000)
    else:
        wall_mode(int(args[0]) if args else 100_000)


if __name__ == "__main__":
    main()
