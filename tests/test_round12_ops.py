"""Round-12 unit tests: the incremental commit-log state cache (VERDICT
r11 ask #1 — per-commit plan CPU is O(appended bytes), not O(history)),
auto-compaction, oversized-entry tail reads (ask #4), plus the four
ADVICE r11 fixes — cross-family type-widening refusal (high), stale-lock
TOCTOU re-read + heartbeat (medium), deleted-branch CAS conflicts (low),
and corrupt-non-final-segment-line loudness (low)."""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from tests.conftest import fresh_dir


@pytest.fixture()
def ref_table(spark, tmp_path):
    from apache_iceberg_spark.catalog.snapshots import commit_snapshot

    table = fresh_dir(tmp_path, "r12_refs") + "/t"
    commit_snapshot(spark.range(10).select(F.col("id")), table, ts_ms=1000)
    return table


def _seg(path: str) -> str:
    return os.path.join(path, "_versions.jsonl")


def _base(path: str) -> str:
    return os.path.join(path, "_versions.json")


def _drop_cache(path: str) -> None:
    """Simulate a fresh process: forget the cached parse for `path`."""
    import apache_iceberg_spark.catalog.snapshots as S

    with S._CACHE_LOCK:
        S._LOG_CACHE.pop(path, None)


# ---------------------------------------------------------------------------
# Ask #1/#4: incremental log-state cache


def test_oversized_entry_tail_read_is_incremental(spark, ref_table):
    """A commit entry bigger than any fixed backscan chunk (>64 KiB —
    e.g. a ws_rollback restating many tables) must not degrade the tail
    read to a full log parse (VERDICT r11 ask #4). The incremental
    cache parses exactly the appended bytes, so after warming, a tail
    read never needs the cold full parse."""
    import apache_iceberg_spark.catalog.snapshots as S
    from apache_iceberg_spark.catalog.snapshots import (
        _append_commit,
        _read_tail,
    )

    head = _read_tail(ref_table)["version"]  # warm the cache
    big_entry = {
        "version": head + 1,
        "ts_ms": 2000,
        "paths": [f"/data/dir-{i:06d}-{'x' * 64}" for i in range(1200)],
        "partition_by": None,
    }
    assert len(json.dumps(big_entry)) > (1 << 16)
    _append_commit(ref_table, big_entry, expected_head=head)

    def boom(*a, **k):  # noqa: ANN002
        raise AssertionError("full log parse on a warmed tail read")

    orig = S._full_state
    S._full_state = boom
    try:
        tail = _read_tail(ref_table)
    finally:
        S._full_state = orig
    assert tail["version"] == head + 1
    assert len(tail["set"]) == 1200


def test_corrupt_nonfinal_segment_line_raises_everywhere(spark, ref_table):
    """ADVICE r11 (low): the old tail backscan `continue`d past corrupt
    NEWLINE-TERMINATED lines and could CAS against a stale head. Both
    the cold parse and the warmed incremental parse must now raise."""
    from apache_iceberg_spark.catalog.snapshots import (
        _read_log,
        _read_tail,
        commit_append,
    )

    commit_append(spark.range(100, 101).select(F.col("id")), ref_table)
    _read_tail(ref_table)  # warm
    with open(_seg(ref_table), "a") as f:
        f.write('{"version": 99, corrupt GARBAGE}\n')  # newline-terminated
        f.write('{"version": 100, "ts_ms": 1, "path": "/x"}\n')
    with pytest.raises(ValueError):
        _read_tail(ref_table)  # warmed incremental parse
    _drop_cache(ref_table)
    with pytest.raises(ValueError):
        _read_log(ref_table)  # cold full parse


def test_torn_tail_ignored_warm_and_cold(spark, ref_table):
    from apache_iceberg_spark.catalog.snapshots import (
        _read_tail,
        list_snapshots,
    )

    _read_tail(ref_table)  # warm
    with open(_seg(ref_table), "a") as f:
        f.write('{"version": 99, "adds": ["/torn')  # died mid-append
    assert _read_tail(ref_table)["version"] == 1  # warmed path
    _drop_cache(ref_table)
    assert [e["version"] for e in list_snapshots(ref_table)] == [1]  # cold
    # a later torn-tail COMPLETION (the writer's buffered flush finally
    # landed) is consumed on the next refresh, not lost
    with open(_seg(ref_table), "a") as f:
        f.write('", "/d"], "parent": 1, "ts_ms": 5}\n')
    assert _read_tail(ref_table)["version"] == 99


def test_cache_revalidates_after_external_compaction(spark, ref_table):
    """Another process compacting (base rewrite + segment truncate) must
    invalidate this process's cached parse via the base stat signature."""
    import apache_iceberg_spark.catalog.snapshots as S
    from apache_iceberg_spark.catalog.snapshots import (
        commit_append,
        compact_log,
        list_snapshots,
    )

    for i in range(3):
        commit_append(
            spark.range(100 + i, 101 + i).select(F.col("id")), ref_table
        )
    before = list_snapshots(ref_table)
    # simulate the OTHER process: compact through a state this process
    # never sees by wiping the cache before and after
    _drop_cache(ref_table)
    compact_log(ref_table)
    saved = None
    with S._CACHE_LOCK:
        saved = S._LOG_CACHE.pop(ref_table, None)
    assert saved is not None
    # this process still re-reads correctly (cold), and a STALE warmed
    # state from before the compaction revalidates by base signature
    assert list_snapshots(ref_table) == before
    assert list_snapshots(ref_table) == before


def test_read_log_returns_isolated_copy(spark, ref_table):
    from apache_iceberg_spark.catalog.snapshots import _read_log

    log = _read_log(ref_table)
    log.append({"version": 999})
    assert [e["version"] for e in _read_log(ref_table)] == [1]


def test_out_of_protocol_segment_truncation_forces_full_reread(
    spark, ref_table
):
    from apache_iceberg_spark.catalog.snapshots import (
        commit_append,
        list_snapshots,
    )

    for i in range(2):
        commit_append(
            spark.range(100 + i, 101 + i).select(F.col("id")), ref_table
        )
    lines = open(_seg(ref_table)).read().splitlines(keepends=True)
    with open(_seg(ref_table), "w") as f:
        f.write("".join(lines[:-1]))  # drop the last committed line
    assert [e["version"] for e in list_snapshots(ref_table)] == [1, 2]


# ---------------------------------------------------------------------------
# Ask #1: auto-compaction every ~K appends (geometric, in-lock)


def test_autocompaction_folds_when_segment_outgrows_base(spark, ref_table):
    import apache_iceberg_spark.catalog.snapshots as S
    from apache_iceberg_spark.catalog.snapshots import (
        commit_append,
        list_snapshots,
        read_snapshot_dirs,
    )

    orig = S.AUTO_COMPACT_MIN_SEGMENT_BYTES
    S.AUTO_COMPACT_MIN_SEGMENT_BYTES = 256  # tiny floor for the test
    try:
        for i in range(4):
            commit_append(
                spark.range(100 + i, 101 + i).select(F.col("id")), ref_table
            )
    finally:
        S.AUTO_COMPACT_MIN_SEGMENT_BYTES = orig
    # the fold happened inside a commit: base exists, segment (nearly)
    # empty, and everything still reads correctly
    assert os.path.exists(_base(ref_table))
    assert os.path.getsize(_seg(ref_table)) < 256
    assert [e["version"] for e in list_snapshots(ref_table)] == [
        1, 2, 3, 4, 5,
    ]
    got = sorted(
        r["id"] for r in read_snapshot_dirs(spark, ref_table).collect()
    )
    assert got == list(range(10)) + list(range(100, 104))


def test_autocompaction_is_geometric_not_per_commit(spark, ref_table):
    """Once the base outgrows 4x the floor, small appends must NOT fold
    every commit (that would be O(log) rewrite bytes per commit again —
    the fold fires only when the segment reaches base/4)."""
    import apache_iceberg_spark.catalog.snapshots as S
    from apache_iceberg_spark.catalog.snapshots import commit_append

    orig = S.AUTO_COMPACT_MIN_SEGMENT_BYTES
    S.AUTO_COMPACT_MIN_SEGMENT_BYTES = 64  # force one early fold
    try:
        commit_append(spark.range(1).select(F.col("id")), ref_table)
        assert os.path.exists(_base(ref_table))
        base_sig_after_fold = os.stat(_base(ref_table)).st_mtime_ns
        base_size = os.path.getsize(_base(ref_table))
        S.AUTO_COMPACT_MIN_SEGMENT_BYTES = base_size  # floor > base/4
        commit_append(spark.range(1).select(F.col("id")), ref_table)
        assert os.stat(_base(ref_table)).st_mtime_ns == base_sig_after_fold
        assert os.path.getsize(_seg(ref_table)) > 0  # stayed a segment line
    finally:
        S.AUTO_COMPACT_MIN_SEGMENT_BYTES = orig


# ---------------------------------------------------------------------------
# ADVICE r11 (high): cross-family type evolution must raise, not coerce


def _write_two_dirs(spark, table, second_df):
    from apache_iceberg_spark.catalog.snapshots import (
        commit_append,
        commit_snapshot,
    )

    commit_snapshot(
        spark.range(3).select(
            F.col("id"), F.col("id").cast("bigint").alias("v")
        ),
        table,
    )
    # bypass commit-time checks: schema evolution is only visible at read
    commit_append(second_df, table)


def test_cross_family_numeric_change_raises_at_union(spark, tmp_path):
    """bigint->double is NOT a legal Iceberg promotion — and it is one
    ``unionByName`` would silently coerce (ADVICE r11: the old code
    instead cast double->first-seen-bigint, truncating fractions)."""
    from apache_iceberg_spark.catalog.snapshots import read_snapshot_dirs

    table = fresh_dir(tmp_path, "r12_widen") + "/t"
    _write_two_dirs(
        spark,
        table,
        spark.range(3, 6).select(
            F.col("id"), (F.col("id") + F.lit(0.5)).alias("v")  # double
        ),
    )
    with pytest.raises(ValueError, match="incompatible type.*'v'"):
        read_snapshot_dirs(spark, table).collect()


def test_string_vs_numeric_change_raises_at_union(spark, tmp_path):
    from apache_iceberg_spark.catalog.snapshots import read_snapshot_dirs

    table = fresh_dir(tmp_path, "r12_widen") + "/t"
    _write_two_dirs(
        spark,
        table,
        spark.range(3, 6).select(
            F.col("id"), F.col("id").cast("string").alias("v")
        ),
    )
    with pytest.raises(ValueError, match="incompatible type.*'v'"):
        read_snapshot_dirs(spark, table).collect()


def test_legal_int_widening_still_reads(spark, tmp_path):
    from apache_iceberg_spark.catalog.snapshots import (
        commit_append,
        commit_snapshot,
        read_snapshot_dirs,
    )

    table = fresh_dir(tmp_path, "r12_widen") + "/t"
    commit_snapshot(
        spark.range(3).select(F.col("id").cast("int").alias("v")), table
    )
    commit_append(
        spark.range(3, 6).select(F.col("id").cast("bigint").alias("v")),
        table,
    )
    df = read_snapshot_dirs(spark, table)
    assert dict(df.dtypes)["v"] == "bigint"
    assert sorted(r["v"] for r in df.collect()) == [0, 1, 2, 3, 4, 5]


# ---------------------------------------------------------------------------
# ADVICE r11 (medium): stale-lock TOCTOU + heartbeat


def test_break_refused_when_lock_changes_between_reads(ref_table):
    """If the lock file CHANGES between the age check and the re-read
    (holder released, a new writer acquired), the breaker must stand
    down instead of renaming the fresh lock aside."""
    from apache_iceberg_spark.catalog.snapshots import _log_lock

    lock_path = _base(ref_table) + ".lock"
    with open(lock_path, "w") as f:
        f.write(json.dumps({"pid": 0, "ts": 0, "token": "old"}))
    old = time.time() - 120
    os.utime(lock_path, (old, old))

    lk = _log_lock(ref_table)
    metas = iter(
        [
            (old, "old"),  # the age check sees the stale corpse...
            (time.time(), "fresh"),  # ...but a NEW lock replaced it
        ]
    )
    lk._lock_meta = lambda: next(metas)
    lk._break_stale()
    assert os.path.exists(lock_path)  # NOT broken
    os.remove(lock_path)


def test_heartbeat_protects_live_long_holder(ref_table):
    """A holder past stale_s that heartbeats (compaction folding a huge
    segment) must never be classified stale."""
    from apache_iceberg_spark.catalog.snapshots import _log_lock

    lock_path = _base(ref_table) + ".lock"
    with _log_lock(ref_table) as lk:
        old = time.time() - 120
        os.utime(lock_path, (old, old))  # simulate a long hold
        lk.heartbeat()  # the long operation refreshes the lease
        waiter = _log_lock(ref_table, timeout_s=0.1, stale_s=60.0)
        waiter._break_stale()
        assert os.path.exists(lock_path)  # still held


def test_touch_lock_refreshes_mtime(ref_table):
    from apache_iceberg_spark.catalog.snapshots import _log_lock, _touch_lock

    lock_path = _base(ref_table) + ".lock"
    with _log_lock(ref_table):
        old = time.time() - 120
        os.utime(lock_path, (old, old))
        _touch_lock(ref_table)
        assert time.time() - os.path.getmtime(lock_path) < 60


# ---------------------------------------------------------------------------
# ADVICE r11 (low): concurrently deleted branch => CommitConflict


class _RacingDF:
    def __init__(self, df, race):
        self._df = df
        self._race = race
        self._fired = False

    @property
    def write(self):
        if not self._fired:
            self._fired = True
            self._race()
        return self._df.write


def test_commit_to_concurrently_deleted_branch_conflicts(spark, ref_table):
    from apache_iceberg_spark.catalog.snapshots import (
        CommitConflict,
        commit_append_ref,
        create_branch,
        delete_branch,
        list_refs,
    )

    create_branch(ref_table, "etl")
    with pytest.raises(CommitConflict, match="deleted"):
        commit_append_ref(
            _RacingDF(
                spark.range(100, 103).select(F.col("id")),
                lambda: delete_branch(ref_table, "etl"),
            ),
            ref_table,
            branch="etl",
        )
    # the branch was NOT silently re-created by the losing commit
    assert "etl" not in list_refs(ref_table)["branches"]


def test_ws_commit_to_concurrently_deleted_branch_conflicts(spark, tmp_path):
    from apache_iceberg_spark.catalog.snapshots import CommitConflict
    from apache_iceberg_spark.catalog.workspace import (
        ws_commit,
        ws_create_branch,
        ws_delete_branch,
    )

    ws = fresh_dir(tmp_path, "r12_ws")
    ws_commit(ws, {"t": spark.range(3)})
    ws_create_branch(ws, "stage")
    with pytest.raises(CommitConflict, match="deleted"):
        ws_commit(
            ws,
            {
                "t": _RacingDF(
                    spark.range(3, 6),
                    lambda: ws_delete_branch(ws, "stage"),
                )
            },
            branch="stage",
        )


def test_lazy_main_still_commits_without_pinned_refs(spark, ref_table):
    """Missing 'main' in _refs.json is the lazy-pin case, not a deleted
    branch: pre-ref tables must keep committing (regression guard for
    the sentinel fix)."""
    from apache_iceberg_spark.catalog.snapshots import (
        commit_append_ref,
        list_refs,
    )

    assert list_refs(ref_table)["branches"] == {}  # never pinned
    v = commit_append_ref(
        spark.range(50, 53).select(F.col("id")), ref_table, branch="main"
    )
    assert v == 2
    assert list_refs(ref_table)["branches"]["main"] == 2


# ---------------------------------------------------------------------------
# ws first-touch plan parity with full resolution


def test_ws_first_touch_matches_full_resolution(spark, tmp_path):
    from apache_iceberg_spark.catalog.snapshots import _ancestry, _locked_state
    from apache_iceberg_spark.catalog.workspace import (
        _read_log,
        _ws_first_touch,
        _ws_table,
        ws_commit,
        ws_rollback,
    )

    ws = fresh_dir(tmp_path, "r12_ft")
    ws_commit(ws, {"a": spark.range(3)}, ts_ms=1)
    ws_commit(ws, {"a": spark.range(3, 6), "b": spark.range(2)}, ts_ms=2)
    ws_commit(
        ws,
        {"c": spark.range(4).select(F.col("id"), (F.col("id") % 2).alias("p"))},
        ts_ms=3,
        partition_by={"c": ["p"]},
    )
    ws_rollback(ws, 1, ts_ms=4)  # tombstones b and c at the head
    log = _read_log(ws)
    by_v = {e["version"]: e for e in log}
    head = log[-1]["version"]
    with _locked_state(ws) as st:
        for name in ("a", "b", "c", "nope"):
            for v in range(1, head + 1):
                exists, layout = _ws_first_touch(st.by_v, name, v)
                assert exists == (
                    _ws_table(by_v, v, name) is not None
                ), (name, v)
                if exists:
                    recorded = next(
                        by_v[x]["tables"][name].get("partition_by", "unknown")
                        for x in _ancestry(by_v, v)
                        if name in by_v[x]["tables"]
                    )
                    assert layout == recorded, (name, v)


# ---------------------------------------------------------------------------
# table@ref addressing sugar (VERDICT r11 ask #5)


def test_parse_at_ref():
    from apache_iceberg_spark.catalog.snapshots import parse_at_ref

    assert parse_at_ref("orders@etl") == ("orders", "etl")
    assert parse_at_ref("orders") == ("orders", "main")  # default branch
    for bad in ("@etl", "orders@", "a@b@c", "@"):
        with pytest.raises(ValueError, match="malformed"):
            parse_at_ref(bad)


def test_ws_read_at_two_branches(spark, tmp_path):
    from apache_iceberg_spark.catalog.workspace import (
        ws_commit,
        ws_create_branch,
        ws_read_at,
    )

    ws = fresh_dir(tmp_path, "r12_at")
    ws_commit(ws, {"t": spark.range(5)})
    ws_create_branch(ws, "stage")
    ws_commit(ws, {"t": spark.range(5, 8)}, branch="stage")
    main_ids = sorted(r["id"] for r in ws_read_at(spark, ws, "t").collect())
    stage_ids = sorted(
        r["id"] for r in ws_read_at(spark, ws, "t@stage").collect()
    )
    assert main_ids == list(range(5))
    assert stage_ids == list(range(8))


# ---------------------------------------------------------------------------
# VERDICT r11 ask #7: DECIMAL-overflow audit of the rank/cumsum family


def _synthetic_events(spark, tmp, df):
    """Write a synthetic events table and return its sf_dir."""
    df.write.mode("overwrite").parquet(os.path.join(tmp, "events.parquet"))
    return tmp


def test_a36_tie_term_exact_past_int64(spark, tmp_path):
    """One ~3M-row tie puts t = n^3 - n at 2.7e19 > 2^63: the DECIMAL
    accumulation must return it EXACTLY (a BIGINT sum wraps silently
    under non-ANSI)."""
    n_tie = 3_000_000
    n_hi = 1_000  # second value so the z variance is nonzero
    tmp = fresh_dir(tmp_path, "r12_a36")
    df = spark.range(n_tie).select(
        F.when(F.col("id") % 2 == 0, "purchase")
        .otherwise("view")
        .alias("event_type"),
        F.lit(1.0).alias("value"),
    ).unionByName(
        spark.range(n_hi).select(
            F.lit("view").alias("event_type"), F.lit(2.0).alias("value")
        )
    )
    sf_dir = _synthetic_events(spark, tmp, df)

    from apache_iceberg_spark.operators.analytics import a36_mann_whitney

    row = a36_mann_whitney(spark, sf_dir).collect()[0]
    # Python-exact reference over the two-value support
    groups = [(n_tie // 2, n_tie), (0, n_hi)]  # (ca, cv) per value, asc
    na = sum(ca for ca, _ in groups)
    n = sum(cv for _, cv in groups)
    t = sum(cv**3 - cv for _, cv in groups)
    cum = 0
    r2a = 0
    for ca, cv in groups:
        r2a += ca * (2 * cum + cv + 1)
        cum += cv
    u2 = r2a - na * (na + 1)
    assert row["na"] == na and row["nb"] == n - na
    # t/u2 accumulate exactly in DECIMAL(38,0) and project as DOUBLE:
    # one correctly-rounded cast of the exact value
    assert t > 2**63  # 2.7e19: a BIGINT accumulation would have died
    assert row["t"] == float(t)
    assert row["u2"] == float(u2)
    # the decision statistics come from the EXACT decimals
    nb = n - na
    expected_rb = ((na * nb - u2 // 2) * 1_000_000) // (na * nb)
    assert row["rank_biserial_micro"] == expected_rb
    import math

    z_num = u2 / 2.0 - na * nb / 2.0
    z_den = math.sqrt(na * nb / 12.0 * ((n + 1) - t / (n * (n - 1))))
    assert row["z_score"] == pytest.approx(z_num / z_den, rel=1e-12)


def test_w16_clipped_sum_exact_past_int64(spark, tmp_path):
    """10M rows of 1e12-cent values: the clipped sum is 1e19 > 2^63 and
    must come back exactly through the DECIMAL(38,0) accumulation,
    while the mean (1e18 micro-units) still fits its BIGINT column."""
    n = 10_000_000
    v_dollars = 1e10  # -> 1e12 cents, exactly representable as double
    tmp = fresh_dir(tmp_path, "r12_w16")
    df = spark.range(n).select(
        F.lit("sensor").alias("event_type"),
        F.lit(v_dollars).alias("value"),
    )
    sf_dir = _synthetic_events(spark, tmp, df)

    from apache_iceberg_spark.operators.functions_ext import (
        w16_winsorized_mean,
    )

    row = w16_winsorized_mean(spark, sf_dir).collect()[0]
    v_cents = 10**12
    assert row["n"] == n
    assert row["lo_cents"] == v_cents and row["hi_cents"] == v_cents
    # the sum accumulates exactly in DECIMAL (1e19 > 2^63 would wrap a
    # BIGINT) and projects as one correctly-rounded DOUBLE...
    assert n * v_cents > 2**63
    assert row["sum_clipped_cents"] == float(n * v_cents)
    # ...while the mean divides the EXACT decimal: bit-exact BIGINT out
    assert row["winsorized_mean_micro"] == v_cents * 1_000_000


# ---------------------------------------------------------------------------
# keys_max: bounded idempotency window (O(1) refs for unexpiring streams)


def test_keys_max_bounds_refs_and_keeps_recent_idempotency(spark, ref_table):
    from apache_iceberg_spark.catalog.snapshots import (
        commit_append_ref,
        create_branch,
        list_refs,
        list_snapshots,
    )

    create_branch(ref_table, "etl")
    versions = {}
    for i in range(30):
        versions[i] = commit_append_ref(
            spark.range(i, i + 1).select(F.col("id")),
            ref_table,
            branch="etl",
            idempotency_key=f"b{i}",
            keys_max=10,
        )
    refs = list_refs(ref_table)
    assert len(refs["keys"]) == 10  # bounded, not O(commits)
    # a replay INSIDE the window is idempotent...
    again = commit_append_ref(
        spark.range(0).select(F.col("id")),
        ref_table,
        branch="etl",
        idempotency_key="b29",
        keys_max=10,
    )
    assert again == versions[29]
    # ...and a replay OLDER than the window re-commits (the documented
    # window semantics — same caveat as expiry's key pruning)
    n_before = len(list_snapshots(ref_table))
    re_old = commit_append_ref(
        spark.range(99, 100).select(F.col("id")),
        ref_table,
        branch="etl",
        idempotency_key="b0",
        keys_max=10,
    )
    assert re_old != versions[0]
    assert len(list_snapshots(ref_table)) == n_before + 1


def test_ws_keys_max_bounds_refs(spark, tmp_path):
    from apache_iceberg_spark.catalog.snapshots import _read_refs
    from apache_iceberg_spark.catalog.workspace import ws_commit

    ws = fresh_dir(tmp_path, "r12_keysmax")
    for i in range(25):
        ws_commit(
            ws,
            {"t": spark.range(i, i + 1)},
            idempotency_key=f"batch-{i}",
            keys_max=8,
        )
    refs = _read_refs(ws)
    assert len(refs["keys"]) == 8
    # the newest keys survive (pruned by version, oldest first)
    assert f"main\x00batch-24" in refs["keys"]
    assert f"main\x00batch-0" not in refs["keys"]


# ---------------------------------------------------------------------------
# Model-based torture with AUTO-COMPACTION firing mid-sequence


def test_model_sequence_with_autocompaction(spark, tmp_path):
    """Re-run the round-11 model-based 40-op sequence with the round-12
    auto-compaction threshold pinned LOW, so in-commit segment-into-base
    folds interleave with every op class (appends, branch commits,
    merges, rollbacks, tags, explicit compactions, both expiry modes) —
    the cache + fold machinery under the store's hardest workload. The
    model comparison is the round-11 test's own; only the fold cadence
    changes."""
    import apache_iceberg_spark.catalog.snapshots as S

    from tests.test_round11_ops import (
        test_ref_store_matches_python_model_over_random_op_sequence,
    )

    orig = S.AUTO_COMPACT_MIN_SEGMENT_BYTES
    S.AUTO_COMPACT_MIN_SEGMENT_BYTES = 200  # folds every ~1-2 commits
    try:
        test_ref_store_matches_python_model_over_random_op_sequence(spark, tmp_path)
    finally:
        S.AUTO_COMPACT_MIN_SEGMENT_BYTES = orig


# ---------------------------------------------------------------------------
# Cache consistency under concurrent readers + writers (threads)


def test_readers_see_prefix_consistent_log_under_writers(spark, ref_table):
    """N writer threads commit through the shared incremental cache
    while M reader threads hammer list_snapshots/_read_tail: every
    observed log must be a clean version prefix 1..k (no gaps, no
    duplicates, no torn entries) and every observed tail must be the
    last element of a longer-or-equal prefix than the previous
    observation on that thread (monotonic progress). This is the
    multi-threaded linearizability check the per-operation race tests
    imply but never asserted directly against the CACHE."""
    import threading

    import apache_iceberg_spark.catalog.snapshots as S
    from apache_iceberg_spark.catalog.snapshots import (
        commit_append_ref,
        create_branch,
        list_snapshots,
    )

    create_branch(ref_table, "etl")
    n_writers, commits_each = 4, 6
    stop = threading.Event()
    errors: list[str] = []

    def writer(w: int) -> None:
        df = spark.range(w * 100, w * 100 + 2).select(F.col("id"))
        for i in range(commits_each):
            try:
                commit_append_ref(
                    df, ref_table, branch="etl", max_retries=20
                )
            except Exception as exc:  # noqa: BLE001
                errors.append(f"writer {w}/{i}: {exc}")
                return

    def reader(r: int) -> None:
        last_len = 0
        while not stop.is_set():
            try:
                log = list_snapshots(ref_table)
            except Exception as exc:  # noqa: BLE001
                errors.append(f"reader {r}: {exc}")
                return
            versions = [e["version"] for e in log]
            if versions != list(range(1, len(versions) + 1)):
                errors.append(f"reader {r}: non-prefix log {versions}")
                return
            if len(versions) < last_len:
                errors.append(
                    f"reader {r}: log shrank {last_len}->{len(versions)}"
                )
                return
            last_len = len(versions)

    writers = [
        threading.Thread(target=writer, args=(w,))
        for w in range(n_writers)
    ]
    readers = [threading.Thread(target=reader, args=(r,)) for r in range(3)]
    for t in readers + writers:
        t.start()
    for t in writers:
        t.join()
    stop.set()
    for t in readers:
        t.join()
    assert not errors, errors
    final = [e["version"] for e in list_snapshots(ref_table)]
    assert final == list(range(1, n_writers * commits_each + 2))
