"""Round-11 unit tests: append-only JSONL segment commit log (VERDICT
r10 ask #1), commit retry that reuses written data (ask #2), O(1)
idempotency-key index (ask #4), plus the four ADVICE r10 fixes —
branch-pointer CAS vs fast-forward merges (medium), one-sided-rewrite
merges, root-terminated materialized entries, and stale-lock recovery."""

from __future__ import annotations

import json
import os
import threading

import pytest
from pyspark.sql import functions as F

from tests.conftest import fresh_dir


@pytest.fixture()
def ref_table(spark, tmp_path):
    from apache_iceberg_spark.catalog.snapshots import commit_snapshot

    table = fresh_dir(tmp_path, "r11_refs") + "/t"
    commit_snapshot(spark.range(10).select(F.col("id")), table, ts_ms=1000)
    return table


def _seg(path: str) -> str:
    return os.path.join(path, "_versions.jsonl")


def _base(path: str) -> str:
    return os.path.join(path, "_versions.json")


def _ids(spark, table, ref):
    from apache_iceberg_spark.catalog.snapshots import read_ref

    return sorted(r["id"] for r in read_ref(spark, table, ref).collect())


class _RacingDF:
    """Wraps a DataFrame; the first access to .write runs a racing
    operation first, simulating a concurrent writer/merger that wins."""

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


# ---------------------------------------------------------------------------
# Ask #1: append-only segment log — O(1) bytes per commit


def test_commit_appends_segment_not_base(spark, ref_table):
    from apache_iceberg_spark.catalog.snapshots import (
        commit_append,
        list_snapshots,
        read_snapshot_dirs,
    )

    base_bytes = (
        open(_base(ref_table), "rb").read()
        if os.path.exists(_base(ref_table))
        else b""
    )
    for i in range(5):
        commit_append(
            spark.range(100 + i, 101 + i).select(F.col("id")), ref_table
        )
    # The base was NEVER rewritten; all five commits are segment lines.
    after = (
        open(_base(ref_table), "rb").read()
        if os.path.exists(_base(ref_table))
        else b""
    )
    assert after == base_bytes
    lines = [
        ln for ln in open(_seg(ref_table)).read().split("\n") if ln.strip()
    ]
    assert len(lines) >= 5
    assert [e["version"] for e in list_snapshots(ref_table)] == list(
        range(1, 7)
    )
    got = sorted(r["id"] for r in read_snapshot_dirs(spark, ref_table).collect())
    assert got == list(range(10)) + list(range(100, 105))


def test_per_commit_log_bytes_flat(spark, ref_table):
    """The write cost of commit N must not grow with N — the property
    the whole-file rewrite violated (O(commits) per commit, 7.47 GB
    cumulative at 10k commits per SCALE_NOTES §ref-log)."""
    from apache_iceberg_spark.catalog.snapshots import commit_append

    deltas = []
    prev = os.path.getsize(_seg(ref_table)) if os.path.exists(
        _seg(ref_table)
    ) else 0
    for i in range(8):
        commit_append(
            spark.range(i, i + 1).select(F.col("id")), ref_table
        )
        size = os.path.getsize(_seg(ref_table))
        deltas.append(size - prev)
        prev = size
    # every append costs about one entry — no growth with history length
    assert max(deltas) <= min(deltas) + 16


def test_torn_segment_tail_ignored_and_healed(spark, ref_table):
    from apache_iceberg_spark.catalog.snapshots import (
        commit_append,
        list_snapshots,
    )

    commit_append(spark.range(100, 101).select(F.col("id")), ref_table)
    with open(_seg(ref_table), "a") as f:
        f.write('{"version": 99, "adds": ["/torn')  # died mid-append
    # the torn line is an uncommitted entry: invisible to readers
    assert [e["version"] for e in list_snapshots(ref_table)] == [1, 2]
    # ... and the next commit truncates it rather than welding onto it
    commit_append(spark.range(200, 201).select(F.col("id")), ref_table)
    log = list_snapshots(ref_table)
    assert [e["version"] for e in log] == [1, 2, 3]
    # the torn fragment is gone (not welded into any line); matching
    # the exact fragment, not bare "99" — a wallclock ts_ms containing
    # the digits 99 made the bare match flaky
    assert '"version": 99' not in open(_seg(ref_table)).read()


def test_compact_log_folds_segment(spark, ref_table):
    from apache_iceberg_spark.catalog.snapshots import (
        commit_append,
        compact_log,
        list_snapshots,
        read_snapshot_dirs,
    )

    for i in range(4):
        commit_append(
            spark.range(100 + i, 101 + i).select(F.col("id")), ref_table
        )
    before = list_snapshots(ref_table)
    folded = compact_log(ref_table)
    assert folded == 5  # v1 (base never existed: all five were segment)
    assert os.path.getsize(_seg(ref_table)) == 0
    assert list_snapshots(ref_table) == before
    assert json.load(open(_base(ref_table))) == before
    got = sorted(r["id"] for r in read_snapshot_dirs(spark, ref_table).collect())
    assert got == list(range(10)) + list(range(100, 104))


def test_compaction_crash_window_dedupes_by_version(spark, ref_table):
    """A compaction that died between the base rename and the segment
    truncate leaves folded entries in BOTH files; reads must dedupe
    (base wins) instead of double-counting."""
    import shutil

    from apache_iceberg_spark.catalog.snapshots import (
        commit_append,
        compact_log,
        list_snapshots,
    )

    for i in range(3):
        commit_append(
            spark.range(100 + i, 101 + i).select(F.col("id")), ref_table
        )
    seg_copy = _seg(ref_table) + ".precrash"
    shutil.copy(_seg(ref_table), seg_copy)
    before = list_snapshots(ref_table)
    compact_log(ref_table)
    shutil.copy(seg_copy, _seg(ref_table))  # simulate the crash window
    assert list_snapshots(ref_table) == before  # deduped, base-wins
    # and the next compaction heals it entirely
    compact_log(ref_table)
    assert os.path.getsize(_seg(ref_table)) == 0
    assert list_snapshots(ref_table) == before


def test_expiry_truncates_segment(spark, ref_table):
    from apache_iceberg_spark.catalog.snapshots import (
        commit_append,
        expire_snapshots_dirs,
        list_snapshots,
    )

    for i in range(3):
        commit_append(
            spark.range(100 + i, 101 + i).select(F.col("id")),
            ref_table,
            ts_ms=2000 + i,
        )
    expired = expire_snapshots_dirs(
        ref_table, older_than_ms=10_000, keep_last=2
    )
    assert expired == [1, 2]
    assert os.path.getsize(_seg(ref_table)) == 0  # expiry compacts
    assert [e["version"] for e in list_snapshots(ref_table)] == [3, 4]


# ---------------------------------------------------------------------------
# ADVICE r10: stale-lock recovery


def test_stale_lock_is_broken(ref_table):
    from apache_iceberg_spark.catalog.snapshots import _log_lock

    lock_path = _base(ref_table) + ".lock"
    with open(lock_path, "w") as f:
        f.write(json.dumps({"pid": 0, "ts": 0}))
    old = os.path.getmtime(lock_path) - 120
    os.utime(lock_path, (old, old))
    with _log_lock(ref_table, timeout_s=2.0, stale_s=60.0):
        pass  # acquired by breaking the 120s-old corpse
    assert not os.path.exists(lock_path)


def test_live_lock_is_respected(ref_table):
    from apache_iceberg_spark.catalog.snapshots import (
        CommitConflict,
        _log_lock,
    )

    with _log_lock(ref_table):
        with pytest.raises(CommitConflict, match="held past"):
            with _log_lock(ref_table, timeout_s=0.2, stale_s=60.0):
                pass  # pragma: no cover


# ---------------------------------------------------------------------------
# Ask #2: commit retry reuses the already-written data


def test_commit_append_ref_retry_lands_after_lost_race(spark, ref_table):
    from apache_iceberg_spark.catalog.snapshots import (
        commit_append_ref,
        list_snapshots,
    )

    racer_df = spark.range(100, 103).select(F.col("id"))
    loser_df = spark.range(200, 203).select(F.col("id"))

    def race():
        commit_append_ref(racer_df, ref_table, branch="main")

    v = commit_append_ref(
        _RacingDF(loser_df, race), ref_table, branch="main", max_retries=3
    )
    assert v == 3  # racer took v2; the retry re-planned and landed v3
    assert [e["version"] for e in list_snapshots(ref_table)] == [1, 2, 3]
    assert _ids(spark, ref_table, "main") == (
        list(range(10)) + list(range(100, 103)) + list(range(200, 203))
    )


def test_ws_commit_concurrent_writers_all_land_no_orphans(spark, tmp_path):
    """VERDICT r10 ask #2's done-criterion: N concurrent workspace
    writers with internal retry ALL land, and the run leaves zero
    orphan debris (the loser's data dirs are REUSED, not abandoned)."""
    from apache_iceberg_spark.catalog.workspace import (
        ws_commit,
        ws_list_versions,
        ws_read,
        ws_remove_orphans,
    )

    ws = fresh_dir(tmp_path, "r11_ws_race")
    ws_commit(ws, {"t": spark.range(5).select(F.col("id"))}, ts_ms=1000)
    errors: list[Exception] = []
    n_writers = 4

    def writer(i: int) -> None:
        try:
            ws_commit(
                ws,
                {"t": spark.range(100 * i, 100 * i + 3).select(F.col("id"))},
                max_retries=20,
                ts_ms=2000 + i,
            )
        except Exception as exc:  # pragma: no cover - surfaced below
            errors.append(exc)

    threads = [
        threading.Thread(target=writer, args=(i,))
        for i in range(1, n_writers + 1)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert len(ws_list_versions(ws)) == 1 + n_writers  # all landed
    got = sorted(r["id"] for r in ws_read(spark, ws, "t").collect())
    want = sorted(
        list(range(5))
        + [100 * i + j for i in range(1, n_writers + 1) for j in range(3)]
    )
    assert got == want
    assert ws_remove_orphans(ws) == []  # retries reused their data dirs


def test_ws_commit_retry_defers_to_idempotent_racer(spark, tmp_path):
    from apache_iceberg_spark.catalog.workspace import (
        ws_commit,
        ws_list_versions,
        ws_read,
        ws_remove_orphans,
    )
    import apache_iceberg_spark.catalog.workspace as W

    ws = fresh_dir(tmp_path, "r11_ws_idem")
    ws_commit(ws, {"t": spark.range(5).select(F.col("id"))}, ts_ms=1000)

    df = spark.range(100, 103).select(F.col("id"))
    racer_done = {"v": None}

    class _Racing:
        _fired = False

        @property
        def write(self):
            if not _Racing._fired:
                _Racing._fired = True
                racer_done["v"] = ws_commit(
                    ws, {"t": df}, idempotency_key="batch-7", ts_ms=2000
                )
            return df.write

    v = ws_commit(
        ws,
        {"t": _Racing()},
        idempotency_key="batch-7",
        max_retries=3,
        ts_ms=2001,
    )
    assert v == racer_done["v"] == 2  # the retry found the racer's key
    assert len(ws_list_versions(ws)) == 2  # no double-append
    got = sorted(r["id"] for r in ws_read(spark, ws, "t").collect())
    assert got == list(range(5)) + [100, 101, 102]
    # the loser's unused dir is reclaimable debris, by design
    assert len(ws_remove_orphans(ws)) <= 1
    assert W  # silence unused-import lint in minimal configs


# ---------------------------------------------------------------------------
# ADVICE r10 (medium): a fast-forward merge is a pointer move with no
# log append — the head CAS alone cannot see it


def test_ws_commit_detects_ff_merge_pointer_move(spark, tmp_path):
    from apache_iceberg_spark.catalog.snapshots import CommitConflict
    from apache_iceberg_spark.catalog.workspace import (
        ws_commit,
        ws_create_branch,
        ws_merge_branch,
    )

    ws = fresh_dir(tmp_path, "r11_ws_ff")
    ws_commit(ws, {"t": spark.range(5).select(F.col("id"))}, ts_ms=1000)
    ws_create_branch(ws, "dev")
    ws_commit(
        ws, {"u": spark.range(3).select(F.col("id"))},
        branch="dev", ts_ms=1100,
    )

    def race():  # main 1 -> 2: pure pointer move, NO log append
        ws_merge_branch(ws, "dev", into="main")

    loser = spark.range(100, 103).select(F.col("id"))
    with pytest.raises(CommitConflict, match="branch 'main'.*moved"):
        ws_commit(ws, {"t": _RacingDF(loser, race)}, ts_ms=1200)


def test_ws_commit_retry_preserves_ff_merge(spark, tmp_path):
    """With retry, the loser re-plans on the MERGED head: the merge's
    table survives and the commit lands on top — the lost-update the
    old head-only CAS would have silently caused."""
    from apache_iceberg_spark.catalog.workspace import (
        ws_commit,
        ws_create_branch,
        ws_merge_branch,
        ws_read,
        ws_resolve_ref,
    )

    ws = fresh_dir(tmp_path, "r11_ws_ff2")
    ws_commit(ws, {"t": spark.range(5).select(F.col("id"))}, ts_ms=1000)
    ws_create_branch(ws, "dev")
    ws_commit(
        ws, {"u": spark.range(3).select(F.col("id"))},
        branch="dev", ts_ms=1100,
    )

    def race():
        ws_merge_branch(ws, "dev", into="main")

    loser = spark.range(100, 103).select(F.col("id"))
    v = ws_commit(
        ws, {"t": _RacingDF(loser, race)}, ts_ms=1200, max_retries=3
    )
    assert v == 3
    assert ws_resolve_ref(ws, "main") == 3
    # the FF-merged table is NOT reverted ...
    assert sorted(
        r["id"] for r in ws_read(spark, ws, "u", ref="main").collect()
    ) == [0, 1, 2]
    # ... and the commit's own rows landed
    assert sorted(
        r["id"] for r in ws_read(spark, ws, "t", ref="main").collect()
    ) == list(range(5)) + [100, 101, 102]


# ---------------------------------------------------------------------------
# ADVICE r10: one-sided rewrites merge by replay, not conflict


def test_ws_merge_one_sided_rewrite_replays_src(spark, tmp_path):
    from apache_iceberg_spark.catalog.workspace import (
        ws_commit,
        ws_create_branch,
        ws_merge_branch,
        ws_read,
    )

    ws = fresh_dir(tmp_path, "r11_ws_osr")
    ws_commit(ws, {"t": spark.range(5).select(F.col("id"))}, ts_ms=1000)
    ws_create_branch(ws, "dev")
    # dev REWRITES t; main meanwhile touches only u (diverged branches)
    ws_commit(
        ws, {"t": spark.range(50, 53).select(F.col("id"))},
        mode="overwrite", branch="dev", ts_ms=1100,
    )
    ws_commit(
        ws, {"u": spark.range(7).select(F.col("id"))},
        branch="main", ts_ms=1200,
    )
    ws_merge_branch(ws, "dev", into="main")
    # src's one-sided rewrite replays as a restatement on main
    assert sorted(
        r["id"] for r in ws_read(spark, ws, "t", ref="main").collect()
    ) == [50, 51, 52]
    # target's own table is untouched by the merge
    assert sorted(
        r["id"] for r in ws_read(spark, ws, "u", ref="main").collect()
    ) == list(range(7))


def test_ws_merge_target_only_rewrite_stands(spark, tmp_path):
    from apache_iceberg_spark.catalog.workspace import (
        ws_commit,
        ws_create_branch,
        ws_merge_branch,
        ws_read,
    )

    ws = fresh_dir(tmp_path, "r11_ws_ost")
    ws_commit(ws, {"t": spark.range(5).select(F.col("id"))}, ts_ms=1000)
    ws_create_branch(ws, "dev")
    ws_commit(
        ws, {"u": spark.range(3).select(F.col("id"))},
        branch="dev", ts_ms=1100,
    )
    # main rewrites t; dev never touched it
    ws_commit(
        ws, {"t": spark.range(70, 72).select(F.col("id"))},
        mode="overwrite", branch="main", ts_ms=1200,
    )
    ws_merge_branch(ws, "dev", into="main")
    assert sorted(
        r["id"] for r in ws_read(spark, ws, "t", ref="main").collect()
    ) == [70, 71]
    assert sorted(
        r["id"] for r in ws_read(spark, ws, "u", ref="main").collect()
    ) == [0, 1, 2]


def test_ws_merge_both_sides_rewrite_still_conflicts(spark, tmp_path):
    from apache_iceberg_spark.catalog.workspace import (
        ws_commit,
        ws_create_branch,
        ws_merge_branch,
    )

    ws = fresh_dir(tmp_path, "r11_ws_conf")
    ws_commit(ws, {"t": spark.range(5).select(F.col("id"))}, ts_ms=1000)
    ws_create_branch(ws, "dev")
    ws_commit(
        ws, {"t": spark.range(50, 53).select(F.col("id"))},
        mode="overwrite", branch="dev", ts_ms=1100,
    )
    ws_commit(
        ws, {"t": spark.range(70, 72).select(F.col("id"))},
        mode="overwrite", branch="main", ts_ms=1200,
    )
    with pytest.raises(ValueError, match="rewrote files"):
        ws_merge_branch(ws, "dev", into="main")


# ---------------------------------------------------------------------------
# ADVICE r10: expiry-materialized entries are EXPLICIT chain roots


def test_materialized_entry_does_not_phantom_resolve_foreign_lineage(spark, tmp_path):
    """The ADVICE scenario: a dead branch's tip survives expiry via
    keep_last while its parent is pruned. Without the root terminator,
    the materialized tip's implicit-parent fallback bisects into
    MAIN's entries, so a table that never existed on the dead branch
    phantom-resolves at its version."""
    from apache_iceberg_spark.catalog.snapshots import _by_version
    from apache_iceberg_spark.catalog.workspace import (
        _ws_table,
        ws_commit,
        ws_create_branch,
        ws_delete_branch,
        ws_expire_versions,
        ws_list_versions,
        ws_read,
    )

    ws = fresh_dir(tmp_path, "r11_ws_root")
    ws_commit(ws, {"t": spark.range(5).select(F.col("id"))}, ts_ms=1000)
    ws_create_branch(ws, "b2")
    ws_commit(
        ws, {"bx": spark.range(10, 12).select(F.col("id"))},
        branch="b2", ts_ms=1100,
    )  # v2 on b2
    ws_commit(
        ws, {"m_only": spark.range(90, 93).select(F.col("id"))},
        branch="main", ts_ms=1200,
    )  # v3 on main
    ws_commit(
        ws, {"bx": spark.range(12, 14).select(F.col("id"))},
        branch="b2", ts_ms=1300,
    )  # v4 on b2 (the log tail)
    ws_delete_branch(ws, "b2")
    expired = ws_expire_versions(ws, older_than_ms=10_000, keep_last=1)
    assert expired == [2]  # v4's parent: unreachable, not keep_last
    log = ws_list_versions(ws)
    tip = [e for e in log if e["version"] == 4][0]
    assert tip.get("root") is True and "parent" not in tip
    # m_only was NEVER on b2's lineage: it must not resolve at v4
    assert _ws_table(_by_version(log), 4, "m_only") is None
    # while v4's own tables stay fully readable from the inlined sets
    assert sorted(
        r["id"] for r in ws_read(spark, ws, "bx", version=4).collect()
    ) == [10, 11, 12, 13]
    assert sorted(
        r["id"] for r in ws_read(spark, ws, "t", version=4).collect()
    ) == list(range(5))


def test_table_level_root_terminates_ancestry():
    from apache_iceberg_spark.catalog.snapshots import _ancestry

    by_v = {
        1: {"version": 1, "path": "/p1"},
        3: {"version": 3, "paths": ["/p1", "/b"], "root": True},
        4: {"version": 4, "adds": ["/c"], "parent": 3},
    }
    assert list(_ancestry(by_v, 3)) == [3]  # the root has no parent
    assert list(_ancestry(by_v, 4)) == [4, 3]  # stops at the root, not v1


# ---------------------------------------------------------------------------
# Ask #4: O(1) idempotency-key index


def test_keys_index_written_and_floor_zero_without_legacy(spark, ref_table):
    from apache_iceberg_spark.catalog.snapshots import (
        commit_append_ref,
        create_branch,
        list_refs,
    )

    create_branch(ref_table, "etl")
    v = commit_append_ref(
        spark.range(100, 103).select(F.col("id")),
        ref_table,
        branch="etl",
        idempotency_key="batch-1",
    )
    refs = list_refs(ref_table)
    assert refs["keys_floor"] == 0  # no pre-index keyed history
    assert refs["keys"]["etl\x00batch-1"] == v
    # the retry contract through the index
    again = commit_append_ref(
        spark.range(100, 103).select(F.col("id")),
        ref_table,
        branch="etl",
        idempotency_key="batch-1",
    )
    assert again == v


def test_idempotency_miss_is_o1_when_fully_indexed(spark):
    """With floor 0 a MISS must not walk the chain — or even open the
    log state — at all: the walk was O(branch length) per commit, O(n²)
    over a stream's lifetime (round 12 made the fully-indexed miss a
    pure refs-dict probe with zero log I/O)."""
    import apache_iceberg_spark.catalog.snapshots as S

    refs = {"branches": {"b": 500}, "tags": {}, "keys": {}, "keys_floor": 0}

    def boom(*a, **k):  # noqa: ANN002
        raise AssertionError("log-state access on a fully-indexed miss")

    orig_state, orig_anc = S._refresh_state, S._ancestry
    S._refresh_state, S._ancestry = boom, boom
    try:
        # nonexistent path: any state access would boom (or OSError)
        assert (
            S._find_idempotent("/nonexistent/t", refs, "b", 500, "nope")
            is None
        )
        assert (
            S._find_idempotent("/nonexistent/ws", refs, "b", 500, "nope")
            is None
        )
    finally:
        S._refresh_state, S._ancestry = orig_state, orig_anc


def test_legacy_keyed_history_sets_floor_and_still_found(spark, ref_table):
    from apache_iceberg_spark.catalog.snapshots import (
        commit_append_ref,
        create_branch,
        list_refs,
    )

    create_branch(ref_table, "etl")
    v_legacy = commit_append_ref(
        spark.range(100, 102).select(F.col("id")),
        ref_table,
        branch="etl",
        idempotency_key="old-batch",
    )
    # simulate a pre-index deployment: strip the key index from refs
    refs_path = os.path.join(ref_table, "_refs.json")
    refs = json.load(open(refs_path))
    refs.pop("keys", None)
    refs.pop("keys_floor", None)
    json.dump(refs, open(refs_path, "w"))

    v_new = commit_append_ref(
        spark.range(200, 202).select(F.col("id")),
        ref_table,
        branch="etl",
        idempotency_key="new-batch",
    )
    refs = list_refs(ref_table)
    assert refs["keys_floor"] == v_legacy  # legacy keys exist below here
    # the legacy key is STILL honored via the bounded chain walk
    again = commit_append_ref(
        spark.range(100, 102).select(F.col("id")),
        ref_table,
        branch="etl",
        idempotency_key="old-batch",
    )
    assert again == v_legacy
    # and the indexed one via the map
    assert refs["keys"]["etl\x00new-batch"] == v_new


def test_ws_keys_pruned_on_expiry(spark, tmp_path):
    """Indexed keys whose commit was expired are dropped — their retry
    window has passed; keys of live commits survive."""
    from apache_iceberg_spark.catalog.snapshots import _read_refs
    from apache_iceberg_spark.catalog.workspace import (
        ws_commit,
        ws_create_branch,
        ws_delete_branch,
        ws_expire_versions,
    )

    ws = fresh_dir(tmp_path, "r11_ws_keys")
    ws_commit(
        ws, {"t": spark.range(3).select(F.col("id"))},
        idempotency_key="b1", ts_ms=1000,
    )
    ws_create_branch(ws, "side")
    ws_commit(
        ws, {"t": spark.range(3, 6).select(F.col("id"))},
        branch="side", idempotency_key="s1", ts_ms=2000,
    )
    ws_commit(
        ws, {"t": spark.range(6, 9).select(F.col("id"))},
        branch="side", idempotency_key="s2", ts_ms=3000,
    )
    ws_delete_branch(ws, "side")
    ws_commit(
        ws, {"t": spark.range(9, 12).select(F.col("id"))},
        idempotency_key="b2", ts_ms=4000,
    )
    expired = ws_expire_versions(ws, older_than_ms=10_000, keep_last=1)
    assert expired == [2, 3]  # the dead branch's unreachable commits
    refs = _read_refs(ws)
    assert set(refs["keys"]) == {"main\x00b1", "main\x00b2"}


# ---------------------------------------------------------------------------
# Ask #3: workspace-level diff + transplant (m38/m39's contract edges)


def test_ws_diff_classifies_all_change_kinds(spark, tmp_path):
    from apache_iceberg_spark.catalog.workspace import ws_commit, ws_diff

    ws = fresh_dir(tmp_path, "r11_ws_diff")
    ws_commit(
        ws,
        {
            "a": spark.range(3).select(F.col("id")),
            "b": spark.range(3).select(F.col("id")),
            "same": spark.range(2).select(F.col("id")),
        },
        ts_ms=1000,
    )
    ws_commit(ws, {"a": spark.range(3, 6).select(F.col("id"))}, ts_ms=2000)
    ws_commit(
        ws, {"b": spark.range(9, 11).select(F.col("id"))},
        mode="overwrite", ts_ms=3000,
    )
    ws_commit(ws, {"c": spark.range(4).select(F.col("id"))}, ts_ms=4000)

    d = ws_diff(ws, 1, "main")
    assert set(d) == {"a", "b", "c"}  # 'same' untouched -> omitted
    assert d["a"]["change"] == "appended" and not d["a"]["removed"]
    assert d["b"]["change"] == "rewritten"
    assert len(d["b"]["added"]) == 1 and len(d["b"]["removed"]) == 1
    assert d["c"]["change"] == "created" and not d["c"]["removed"]
    # identical states diff to nothing
    assert ws_diff(ws, "main", "main") == {}


def test_ws_transplant_refuses_rewrite_and_creation_conflict(spark, tmp_path):
    from apache_iceberg_spark.catalog.workspace import (
        ws_commit,
        ws_create_branch,
        ws_transplant,
    )

    ws = fresh_dir(tmp_path, "r11_ws_tr")
    ws_commit(ws, {"t": spark.range(3).select(F.col("id"))}, ts_ms=1000)
    ws_create_branch(ws, "dev")
    v_rw = ws_commit(
        ws, {"t": spark.range(50, 52).select(F.col("id"))},
        mode="overwrite", branch="dev", ts_ms=1100,
    )
    with pytest.raises(ValueError, match="rewrote table 't'"):
        ws_transplant(ws, v_rw, onto="main")
    # creation conflict: dev creates 'u'; main independently creates 'u'
    v_cr = ws_commit(
        ws, {"u": spark.range(2).select(F.col("id"))},
        branch="dev", ts_ms=1200,
    )
    ws_commit(
        ws, {"u": spark.range(7, 9).select(F.col("id"))},
        branch="main", ts_ms=1300,
    )
    with pytest.raises(ValueError, match="already exists"):
        ws_transplant(ws, v_cr, onto="main")


def test_ws_transplant_noop_when_delta_present(spark, tmp_path):
    from apache_iceberg_spark.catalog.workspace import (
        ws_commit,
        ws_create_branch,
        ws_list_versions,
        ws_merge_branch,
        ws_resolve_ref,
        ws_transplant,
    )

    ws = fresh_dir(tmp_path, "r11_ws_tr2")
    ws_commit(ws, {"t": spark.range(3).select(F.col("id"))}, ts_ms=1000)
    ws_create_branch(ws, "dev")
    v2 = ws_commit(
        ws, {"t": spark.range(10, 12).select(F.col("id"))},
        branch="dev", ts_ms=1100,
    )
    ws_merge_branch(ws, "dev", into="main")  # FF: main now has v2's adds
    n = len(ws_list_versions(ws))
    got = ws_transplant(ws, v2, onto="main")
    assert got == ws_resolve_ref(ws, "main")
    assert len(ws_list_versions(ws)) == n  # no redundant commit


# ---------------------------------------------------------------------------
# Streaming retention: truncate_history expiry (the endurance-probe mode)


def test_truncating_expiry_cuts_linear_main_history(spark, ref_table):
    """Default expiry protects a branch head's FULL ancestry, so a
    linear ref-tracked history never truncates; truncate_history=True
    protects only heads/pins and actually cuts to keep_last + the ts
    window — the streaming retention mode."""
    from apache_iceberg_spark.catalog.snapshots import (
        commit_append_ref,
        create_branch,
        expire_snapshots_dirs,
        list_snapshots,
        read_ref,
    )

    create_branch(ref_table, "etl")  # pins main too
    for i in range(6):
        commit_append_ref(
            spark.range(100 + i, 101 + i).select(F.col("id")),
            ref_table,
            branch="main",
            ts_ms=2000 + i,
        )
    # default mode: main's head reaches everything -> nothing expires
    assert expire_snapshots_dirs(
        ref_table, older_than_ms=10_000, keep_last=2
    ) == []
    expired = expire_snapshots_dirs(
        ref_table, older_than_ms=10_000, keep_last=2,
        truncate_history=True,
    )
    # v7 = main head (protected), v6 = keep_last; v1 = etl's pin
    assert expired == [2, 3, 4, 5]
    kept = [e["version"] for e in list_snapshots(ref_table)]
    assert kept == [1, 6, 7]
    # the boundary entry was materialized: main still reads in full
    assert _ids(spark, ref_table, "main") == (
        list(range(10)) + list(range(100, 106))
    )
    assert _ids(spark, ref_table, "etl") == list(range(10))


def test_ws_truncating_expiry_with_rewrite_bounds_everything(spark, tmp_path):
    """The endurance-probe maintenance triple: rewrite (set
    restatement) + truncating expiry + orphan GC keeps versions, log
    and data dirs bounded while retaining every row."""
    import os as _os

    from apache_iceberg_spark.catalog.workspace import (
        ws_commit,
        ws_expire_versions,
        ws_list_versions,
        ws_read,
        ws_remove_orphans,
    )

    ws = fresh_dir(tmp_path, "r11_ws_trunc")
    for i in range(8):
        ws_commit(
            ws,
            {"raw": spark.range(i * 5, (i + 1) * 5).select(F.col("id"))},
            ts_ms=1000 + i,
            idempotency_key=f"b{i}",
        )
    # rewrite_data_files: one set restatement of the table's content
    ws_commit(
        ws, {"raw": ws_read(spark, ws, "raw")},
        mode="overwrite", ts_ms=2000,
    )
    expired = ws_expire_versions(
        ws, older_than_ms=10_000, keep_last=1, truncate_history=True
    )
    assert expired == list(range(1, 9))
    ws_remove_orphans(ws)
    assert len(ws_list_versions(ws)) == 1
    got = sorted(r["id"] for r in ws_read(spark, ws, "raw").collect())
    assert got == list(range(40))  # every batch's rows retained
    # the 8 per-batch dirs are gone; one compacted dir remains
    raw_dir = _os.path.join(ws, "raw")
    assert len(_os.listdir(raw_dir)) == 1


# ---------------------------------------------------------------------------
# Ask #5: the shared distinct-value support gate (w12/w15/ts22 recipe)


def test_bound_int_support_quantizes_wide_support(spark):
    """A >2M-distinct integer support takes the quantized branch: the
    frame entering the cumsum window is bounded at A25_GRID cells per
    group, no mass is lost, and the median error is at most one grid
    step (the stated edge-evaluation bound)."""
    from pyspark.sql import functions as F2

    from apache_iceberg_spark.operators.analytics import (
        A25_GRID,
        A25_MAX_SUPPORT,
        bound_int_support,
    )

    n = A25_MAX_SUPPORT + 500_000
    per_v = spark.range(n).select(
        F2.col("id").alias("v"), F2.lit(1).cast("long").alias("cnt")
    )
    out, step = bound_int_support(per_v)
    assert step > 1
    agg = out.agg(
        F2.count(F2.lit(1)).alias("ndv"), F2.sum("cnt").alias("mass")
    ).collect()[0]
    assert agg["ndv"] <= A25_GRID
    assert agg["mass"] == n
    # error bound: the quantized median cell contains the true median
    half = (n + 1) // 2
    from pyspark.sql.window import Window

    med_cell = (
        out.withColumn(
            "cum",
            F2.sum("cnt").over(
                Window.orderBy("v").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            ),
        )
        .filter(F2.col("cum") >= half)
        .agg(F2.min("v"))
        .collect()[0][0]
    )
    true_median = (n - 1) // 2
    assert med_cell <= true_median < med_cell + step


def test_bound_int_support_grouped_exact_branch(spark):
    from pyspark.sql import functions as F2

    from apache_iceberg_spark.operators.analytics import bound_int_support

    pv = spark.range(100).select(
        (F2.col("id") % 3).cast("string").alias("g"),
        F2.col("id").alias("v"),
        F2.lit(2).cast("long").alias("cnt"),
    )
    out, step = bound_int_support(pv, group_cols=("g",))
    assert step == 1
    assert out.count() == 100  # untouched


# ---------------------------------------------------------------------------
# Round-11 operator wave: independent cross-checks


SF_DIR = "/root/testdata/sf0.001"


def test_a34_matches_python_kruskal(spark):
    """Recompute Kruskal-Wallis H from the raw parquet with exact
    Python-int rank math (mid-ranks, tie correction) — a different
    implementation path than both engines' distinct-value cumsum."""
    import collections

    import pandas as pd

    from apache_iceberg_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    got = REGISTRY["a34_kruskal_wallis"].spark(spark, SF_DIR).collect()[0]

    df = pd.read_parquet(SF_DIR + "/orders.parquet")
    cents = (df["o_totalprice"] * 100).round().astype("int64")
    groups = df["o_orderpriority"]
    n = len(df)
    cnt = collections.Counter(cents)
    # dr(v) = 2*cum_before + cnt + 1 in Python ints
    dr = {}
    cum = 0
    for v in sorted(cnt):
        dr[v] = 2 * cum + cnt[v] + 1
        cum += cnt[v]
    r2 = collections.Counter()
    ng = collections.Counter()
    for g, v in zip(groups, cents):
        r2[g] += dr[v]
        ng[g] += 1
    s4 = 0
    for g in ng:
        q, r = divmod(r2[g], ng[g])
        s4 += q * q * ng[g] + 2 * q * r + (r * r) // ng[g]
    s = s4 // 4
    t = sum(c * c * c - c for c in cnt.values())
    h = (3.0 * s / (float(n) * (n + 1)) - 3.0 * (float(n) + 1)) / (
        1.0 - float(t) / (float(n) * n * n - n)
    )
    assert got["k"] == len(ng) and got["n"] == n
    assert got["s"] == s and got["t"] == t
    assert abs(got["h_stat"] - h) <= 1e-9 * max(1.0, abs(h))


def test_g11_matches_python_recount(spark):
    """Recount triangles/degrees per node in pure Python over the SAME
    edge list the operator uses, and compare every output row."""
    from apache_iceberg_spark.operators.graph import _knn_edges
    from apache_iceberg_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    rows = (
        REGISTRY["g11_local_clustering"].spark(spark, SF_DIR).collect()
    )
    edges = {
        (r["u"], r["v"]) for r in _knn_edges(spark, SF_DIR).collect()
    }
    adj: dict[int, set[int]] = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    for r in rows:
        z = r["node"]
        nb = sorted(adj[z])
        d = len(nb)
        tri = sum(
            1
            for i in range(d)
            for j in range(i + 1, d)
            if (min(nb[i], nb[j]), max(nb[i], nb[j])) in edges
        )
        assert r["degree"] == d and d >= 2
        assert r["triangles"] == tri
        assert r["clustering_ppm"] == (2 * tri * 1_000_000) // (d * (d - 1))
    assert {r["node"] for r in rows} == {z for z, s in adj.items() if len(s) >= 2}


def test_ts23_matches_python_exact(spark):
    """Replicate the exact-integer variance decomposition (q/r floors
    included) in Python ints from the raw parquet."""
    import collections

    import pandas as pd

    from apache_iceberg_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    got = {
        r["event_type"]: r
        for r in REGISTRY["ts23_seasonal_strength"].spark(spark, SF_DIR).collect()
    }

    df = pd.read_parquet(SF_DIR + "/events.parquet")
    ts = pd.to_datetime(df["ts"])
    cents = (df["value"] * 100).round().astype("int64")
    by = collections.defaultdict(lambda: collections.defaultdict(list))
    for et, h, c in zip(df["event_type"], ts.dt.hour, cents):
        by[et][int(h)].append(int(c))

    def term(s1: int, n: int) -> int:
        q, r = divmod(s1, n)
        return q * q * n + 2 * q * r + (r * r) // n

    for et, hours in by.items():
        n = sum(len(v) for v in hours.values())
        s1_all = sum(sum(v) for v in hours.values())
        s2_all = sum(c * c for v in hours.values() for c in v)
        hour_term = sum(term(sum(v), len(v)) for v in hours.values())
        t_all = term(s1_all, n)
        ssb, sst = hour_term - t_all, s2_all - t_all
        g = got[et]
        assert g["n"] == n and g["n_hours"] == len(hours)
        assert g["ss_seasonal"] == ssb and g["ss_total"] == sst
        assert g["strength_ppm"] == (ssb * 1_000_000) // sst
        assert 0 <= g["strength_ppm"] <= 1_000_000


def test_pp19_self_consistent_and_capped(spark):
    from apache_iceberg_spark.operators.pipeline import (
        PP19_MAX_EPOCHS_MILLI,
        PP19_MICRO,
    )
    from apache_iceberg_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    rows = REGISTRY["pp19_mixture_weights"].spark(spark, SF_DIR).collect()
    k = len(rows)
    total = sum(r["domain_tokens"] for r in rows)
    for r in rows:
        assert r["share_ppm"] == r["domain_tokens"] * PP19_MICRO // total
        want_w = min(
            total * PP19_MICRO // (k * r["domain_tokens"]),
            PP19_MAX_EPOCHS_MILLI * 1000,
        )
        assert r["weight_micro"] == want_w
        assert r["effective_tokens"] == (
            r["weight_micro"] * r["domain_tokens"] // PP19_MICRO
        )
    # ppm shares sum to ~1e6 (floor rounding loses < k ppm)
    s = sum(r["share_ppm"] for r in rows)
    assert 1_000_000 - k <= s <= 1_000_000


def test_st21_equals_ts23_exactly(spark):
    """The streaming seasonal profile must be BITWISE the batch ts23:
    same partials, same finishing math."""
    from apache_iceberg_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    batch = sorted(
        map(tuple, REGISTRY["ts23_seasonal_strength"].spark(spark, SF_DIR).collect())
    )
    stream = sorted(
        map(tuple, REGISTRY["st21_stream_seasonal_profile"].spark(spark, SF_DIR).collect())
    )
    assert batch == stream and len(batch) > 0


def test_j9_matches_python_brute_force(spark):
    import collections

    import pandas as pd

    from apache_iceberg_spark.operators.functions_ext import J9_TOLERANCE_US
    from apache_iceberg_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    got = {
        r["event_id"]: (r["matched_orderkey"], r["staleness_us"])
        for r in REGISTRY["j9_tolerance_asof_join"].spark(spark, SF_DIR).collect()
    }
    ev = pd.read_parquet(SF_DIR + "/events.parquet")
    od = pd.read_parquet(SF_DIR + "/orders.parquet")
    by_user = collections.defaultdict(list)
    for k, c, d in zip(od["o_orderkey"], od["o_custkey"], od["o_orderdate"]):
        by_user[c].append((d.value // 1000, k))  # ns -> us
    for u in by_user:
        by_user[u].sort()
    n_matched = 0
    for eid, u, ts in zip(ev["event_id"], ev["user_id"], ev["ts"]):
        t_us = ts.value // 1000
        best = None
        for d_us, k in by_user.get(u, []):
            if d_us <= t_us and (
                best is None or (d_us, k) > best
            ):
                best = (d_us, k)
        want = (None, None)
        if best is not None and t_us - best[0] <= J9_TOLERANCE_US:
            want = (best[1], t_us - best[0])
            n_matched += 1
        assert got[eid] == want, (eid, got[eid], want)
    assert len(got) == len(ev)
    assert 0 < n_matched < len(ev)  # the tolerance actually bites


def test_tx24_matches_numpy_polyfit(spark):
    import numpy as np

    from apache_iceberg_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    got = REGISTRY["tx24_zipf_fit"].spark(spark, SF_DIR).collect()[0]
    # recompute the regression from the same micro-unit definition
    from apache_iceberg_spark.operators.pipeline import (
        TX24_MICRO,
        TX24_TOP_K,
        _TOKEN_SPLIT as _SPLIT,
    )
    import collections
    import re

    import pandas as pd

    df = pd.read_parquet(SF_DIR + "/documents.parquet")
    cnt = collections.Counter()
    for text in df["text"]:
        cnt.update(re.split(_SPLIT, text.strip().lower()))
    top = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:TX24_TOP_K]
    x = np.array(
        [round(np.log(i + 1) * TX24_MICRO) for i in range(len(top))],
        dtype=np.float64,
    )
    y = np.array(
        [round(np.log(c) * TX24_MICRO) for _, c in top], dtype=np.float64
    )
    slope, _icept = np.polyfit(x, y, 1)
    r = np.corrcoef(x, y)[0, 1]
    assert got["n"] == len(top)
    assert abs(got["zipf_exponent"] - (-slope)) <= 1e-6 * abs(slope)
    assert abs(got["r_squared"] - r * r) <= 1e-6
    # the synthetic corpus draws words near-uniformly, so the fit is
    # well-defined but weakly Zipfian - the metric's whole point is
    # that this value SCREAMS 'not natural text'
    assert 0.0 <= got["r_squared"] <= 1.0


def test_a35_matches_numpy_brown_forsythe(spark):
    """Recompute Brown-Forsythe from raw parquet: group medians in
    doubled units, deviations, then the exact q/r ANOVA — and compare
    the F statistic against a float numpy ANOVA on the same deviations
    (different arithmetic path, tolerance-checked)."""
    import collections

    import numpy as np
    import pandas as pd

    from apache_iceberg_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    got = REGISTRY["a35_brown_forsythe"].spark(spark, SF_DIR).collect()[0]

    df = pd.read_parquet(SF_DIR + "/events.parquet")
    cents = (df["value"] * 100).round().astype("int64")
    groups = collections.defaultdict(list)
    for g, v in zip(df["event_type"], cents):
        groups[g].append(int(v))
    devs = {}
    for g, vs in groups.items():
        vs.sort()
        n = len(vs)
        # the operator's doubled-unit median: lo + up over the
        # distinct-value cumsum (type-1 lower/upper middle)
        lo = vs[(n + 1) // 2 - 1]
        up = vs[(n + 2) // 2 - 1]
        dm = lo + up
        devs[g] = [abs(2 * v - dm) for v in vs]
    k = len(devs)
    n = sum(len(d) for d in devs.values())
    grand = sum(sum(d) for d in devs.values()) / n
    ssb = sum(
        len(d) * (np.mean(d) - grand) ** 2 for d in devs.values()
    )
    ssw = sum(
        sum((x - np.mean(d)) ** 2 for x in d) for d in devs.values()
    )
    f_np = (ssb / (k - 1)) / (ssw / (n - k))
    assert got["k"] == k and got["n"] == n
    assert abs(got["bf_stat"] - f_np) <= 1e-6 * max(1.0, abs(f_np))
    # exact integer invariants on the engine's own sums
    assert got["ssb"] >= 0 and got["ssw"] > 0


def test_w16_matches_python_exact(spark):
    import collections

    import pandas as pd

    from apache_iceberg_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    got = {
        r["event_type"]: r
        for r in REGISTRY["w16_winsorized_mean"].spark(spark, SF_DIR).collect()
    }
    df = pd.read_parquet(SF_DIR + "/events.parquet")
    cents = (df["value"] * 100).round().astype("int64")
    groups = collections.defaultdict(list)
    for g, v in zip(df["event_type"], cents):
        groups[g].append(int(v))
    for g, vs in groups.items():
        vs.sort()
        n = len(vs)
        # type-1 percentile: min v with cum*100 >= p*n
        def q(p):
            target = -(-p * n // 100)  # ceil(p*n/100)
            return vs[target - 1]

        lo, hi = q(10), q(90)
        s = sum(min(hi, max(lo, v)) for v in vs)
        r = got[g]
        assert (r["n"], r["lo_cents"], r["hi_cents"]) == (n, lo, hi)
        assert r["sum_clipped_cents"] == s
        assert r["winsorized_mean_micro"] == s * 1_000_000 // n
        assert lo <= r["winsorized_mean_micro"] // 1_000_000 <= hi


def test_m41_leaves_root_terminated_boundaries(spark, tmp_path):
    """After truncating retention, every kept entry must be readable
    and the materialized boundaries must be explicit roots."""
    import os as _os

    from apache_iceberg_spark.catalog.snapshots import (
        commit_append_ref,
        commit_snapshot,
        create_tag,
        expire_snapshots_dirs,
        list_snapshots,
        read_ref,
    )

    table = _os.path.join(fresh_dir(tmp_path, "r11_m41"), "t")
    commit_snapshot(spark.range(5).select(F.col("id")), table, ts_ms=1000)
    for i in range(1, 6):
        commit_append_ref(
            spark.range(10 * i, 10 * i + 2).select(F.col("id")),
            table, branch="main", ts_ms=1000 + i,
        )
        if i == 2:
            create_tag(table, "pin")
    expired = expire_snapshots_dirs(
        table, older_than_ms=10_000, keep_last=1, truncate_history=True
    )
    kept = list_snapshots(table)
    assert len(expired) == 4 and len(kept) == 2
    for e in kept:
        assert e.get("root") is True and "parent" not in e
    assert len(_ids(spark, table, "main")) == 5 + 10
    assert len(_ids(spark, table, "pin")) == 5 + 4


def test_lock_exit_does_not_remove_a_breakers_lock(ref_table):
    """If a lock is broken while (wrongly) still held, the original
    holder's exit must NOT unlink the breaker's new lock file — the
    per-acquire token guards ownership."""
    from apache_iceberg_spark.catalog.snapshots import _log_lock

    lock_path = _base(ref_table) + ".lock"
    a = _log_lock(ref_table)
    a.__enter__()
    # simulate a (buggy/overeager) breaker replacing the lock mid-hold
    os.remove(lock_path)
    b = _log_lock(ref_table)
    b.__enter__()
    a.__exit__(None, None, None)  # must leave b's lock alone
    assert os.path.exists(lock_path)
    b.__exit__(None, None, None)  # b removes its own
    assert not os.path.exists(lock_path)


def test_pp20_matches_python_plan(spark):
    import pandas as pd

    from apache_iceberg_spark.operators.pipeline import (
        PP20_MICRO,
        PP20_SHARD_BYTES,
    )
    from apache_iceberg_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    got = {
        r["shard_id"]: r
        for r in REGISTRY["pp20_shard_planner"].spark(spark, SF_DIR).collect()
    }
    df = pd.read_parquet(SF_DIR + "/documents.parquet").sort_values("doc_id")
    st = 0
    plan = {}
    for doc_id, text in zip(df["doc_id"], df["text"]):
        b = len(text)  # the operator's length(text): chars (ASCII fixture)
        sid = st // PP20_SHARD_BYTES
        p = plan.setdefault(
            sid, {"n": 0, "first": doc_id, "bytes": 0, "crossing": 0}
        )
        p["n"] += 1
        p["bytes"] += b
        if b > 0 and (st + b - 1) // PP20_SHARD_BYTES > sid:
            p["crossing"] += 1
        st += b
    assert set(got) == set(plan)
    for sid, p in plan.items():
        r = got[sid]
        assert (r["n_docs"], r["first_doc"], r["shard_bytes"]) == (
            p["n"], p["first"], p["bytes"]
        )
        assert r["crossing_docs"] == p["crossing"]
        assert r["fill_ppm"] == p["bytes"] * PP20_MICRO // PP20_SHARD_BYTES
    # interior shards cross at most one doc each, and fill near target
    interior = [got[s] for s in sorted(got)[:-1]]
    assert all(r["crossing_docs"] <= 1 for r in interior)


def test_mm11_matches_python_argmin(spark):
    import pandas as pd

    from apache_iceberg_spark.operators.pipeline import (
        MM11_BUCKETS,
        MM11_MICRO,
    )
    from apache_iceberg_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    got = {
        r["bucket_idx"]: r
        for r in REGISTRY["mm11_aspect_bucket_report"].spark(spark, SF_DIR).collect()
    }
    df = pd.read_parquet(SF_DIR + "/documents.parquet")
    agg: dict[int, list[int]] = {}
    for text in df["text"]:
        if len(text) < 2:
            continue
        w = 128 * (4 + ord(text[0]) % 13)
        h = 128 * (4 + ord(text[1]) % 13)
        best = min(
            (abs(w * bh - h * bw) * MM11_MICRO // (bw * bh)) * 16 + i
            for i, (bw, bh) in enumerate(MM11_BUCKETS)
        )
        a = agg.setdefault(best % 16, [0, 0, 0])
        a[0] += 1
        a[1] += best // 16
        a[2] += w * h
    assert set(got) == set(agg)
    for idx, (n, mis, px) in agg.items():
        r = got[idx]
        assert r["n_images"] == n
        assert r["avg_mismatch_ppm"] == mis // n
        assert r["total_src_pixels"] == px


def test_a36_matches_python_mann_whitney(spark):
    import collections

    import math

    import pandas as pd

    from apache_iceberg_spark.operators.analytics import (
        A36_GROUP_A,
        A36_GROUP_B,
    )
    from apache_iceberg_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    got = REGISTRY["a36_mann_whitney"].spark(spark, SF_DIR).collect()[0]

    df = pd.read_parquet(SF_DIR + "/events.parquet")
    df = df[df["event_type"].isin([A36_GROUP_A, A36_GROUP_B])]
    cents = (df["value"] * 100).round().astype("int64")
    per = collections.Counter()
    per_a = collections.Counter()
    for et, v in zip(df["event_type"], cents):
        per[int(v)] += 1
        if et == A36_GROUP_A:
            per_a[int(v)] += 1
    cum = 0
    r2a = 0
    t = 0
    na = sum(per_a.values())
    n = sum(per.values())
    nb = n - na
    for v in sorted(per):
        dr = 2 * cum + per[v] + 1
        r2a += per_a[v] * dr
        t += per[v] ** 3 - per[v]
        cum += per[v]
    u2 = r2a - na * (na + 1)
    rb = (na * nb - u2 // 2) * 1_000_000 // (na * nb)
    z = (u2 / 2.0 - na * nb / 2.0) / math.sqrt(
        na * nb / 12.0 * ((n + 1) - t / (n * (n - 1)))
    )
    assert (got["na"], got["nb"], got["u2"], got["t"]) == (na, nb, u2, t)
    assert got["rank_biserial_micro"] == rb
    assert abs(got["z_score"] - z) <= 1e-9 * max(1.0, abs(z))


def test_bound_int_support_carries_extra_sums_through_grid(spark):
    from pyspark.sql import functions as F2

    from apache_iceberg_spark.operators.analytics import (
        A25_GRID,
        A25_MAX_SUPPORT,
        bound_int_support,
    )

    n = A25_MAX_SUPPORT + 300_000
    per_v = spark.range(n).select(
        F2.col("id").alias("v"),
        F2.lit(1).cast("long").alias("cv"),
        (F2.col("id") % 2).cast("long").alias("ca"),
    )
    out, step = bound_int_support(
        per_v, cnt_col="cv", extra_sum_cols=("ca",)
    )
    assert step > 1
    agg = out.agg(
        F2.count(F2.lit(1)).alias("ndv"),
        F2.sum("cv").alias("mass"),
        F2.sum("ca").alias("mass_a"),
    ).collect()[0]
    assert agg["ndv"] <= A25_GRID
    assert agg["mass"] == n and agg["mass_a"] == n // 2


def test_ws_mixed_concurrent_ops_hold_invariants(spark, tmp_path):
    """Chaos-ish integration: two retrying writers on different
    branches, a merger, and a (full-protection) expirer all race on one
    workspace. Invariants: every commit lands exactly once, the final
    merge unions both lineages, retries leave zero orphans, and the
    closing truncating expiry + GC keep every row readable."""
    from apache_iceberg_spark.catalog.workspace import (
        ws_commit,
        ws_create_branch,
        ws_delete_branch,
        ws_expire_versions,
        ws_merge_branch,
        ws_read,
        ws_remove_orphans,
    )

    ws = fresh_dir(tmp_path, "r11_ws_chaos")
    ws_commit(ws, {"t": spark.range(5).select(F.col("id"))}, ts_ms=1000)
    ws_create_branch(ws, "b")
    errors: list[Exception] = []
    n_each = 4

    def writer(branch: str, lo: int) -> None:
        try:
            for i in range(n_each):
                ws_commit(
                    ws,
                    {"t": spark.range(lo + 10 * i, lo + 10 * i + 2)
                        .select(F.col("id"))},
                    branch=branch,
                    max_retries=30,
                    ts_ms=2000 + lo + i,
                    idempotency_key=f"{branch}-{i}",
                )
        except Exception as exc:  # pragma: no cover
            errors.append(exc)

    def merger() -> None:
        try:
            for _ in range(3):
                ws_merge_branch(ws, "b", into="main")
        except ValueError:
            pass  # a mid-race rewrite conflict shape can't occur here
        except Exception as exc:  # pragma: no cover
            errors.append(exc)

    def expirer() -> None:
        try:
            for _ in range(2):
                # full-ancestry protection mode: reachable history is
                # safe to run DURING the race (truncation runs after)
                ws_expire_versions(ws, older_than_ms=10**15, keep_last=1)
        except Exception as exc:  # pragma: no cover
            errors.append(exc)

    threads = [
        threading.Thread(target=writer, args=("main", 100)),
        threading.Thread(target=writer, args=("b", 500)),
        threading.Thread(target=merger),
        threading.Thread(target=expirer),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    # final merge publishes everything b had
    ws_merge_branch(ws, "b", into="main")
    want = sorted(
        list(range(5))
        + [lo + 10 * i + j
           for lo in (100, 500) for i in range(n_each) for j in range(2)]
    )
    got = sorted(
        r["id"] for r in ws_read(spark, ws, "t", ref="main").collect()
    )
    assert got == want
    assert ws_remove_orphans(ws) == []  # retries reused every data dir
    # closing retention: truncate + GC, rows intact
    ws_delete_branch(ws, "b")
    ws_expire_versions(
        ws, older_than_ms=10**15, keep_last=1, truncate_history=True
    )
    ws_remove_orphans(ws)
    got2 = sorted(
        r["id"] for r in ws_read(spark, ws, "t", ref="main").collect()
    )
    assert got2 == want


def test_ws_rollback_restates_and_tombstones(spark, tmp_path):
    from apache_iceberg_spark.catalog.workspace import (
        ws_commit,
        ws_diff,
        ws_list_tables,
        ws_read,
        ws_rollback,
    )

    ws = fresh_dir(tmp_path, "r11_ws_rb")
    v1 = ws_commit(
        ws, {"t": spark.range(5).select(F.col("id"))}, ts_ms=1000
    )
    ws_commit(ws, {"t": spark.range(5, 9).select(F.col("id"))}, ts_ms=2000)
    ws_commit(ws, {"u": spark.range(3).select(F.col("id"))}, ts_ms=3000)
    v4 = ws_rollback(ws, v1, ts_ms=4000)
    # t restated to its v1 content; u tombstoned
    assert sorted(
        r["id"] for r in ws_read(spark, ws, "t", version=v4).collect()
    ) == list(range(5))
    with pytest.raises(ValueError, match="does not exist"):
        ws_read(spark, ws, "u", version=v4)
    assert ws_list_tables(ws) == ["t"]
    # the abandoned states stay addressable for time travel
    assert sorted(
        r["id"] for r in ws_read(spark, ws, "t", version=2).collect()
    ) == list(range(9))
    assert ws_read(spark, ws, "u", version=3).count() == 3
    # diff classifies the rollback correctly from either direction
    d = ws_diff(ws, 3, v4)
    assert d["t"]["change"] == "rewritten"
    assert d["u"]["change"] == "removed" and not d["u"]["added"]
    # rolling back onto the rollback is a consistent no-op-shaped commit
    v5 = ws_rollback(ws, v4)
    assert sorted(
        r["id"] for r in ws_read(spark, ws, "t", version=v5).collect()
    ) == list(range(5))


def test_ref_store_matches_python_model_over_random_op_sequence(spark, tmp_path):
    """Model-based sequence test for the segment-log commit store: a
    seeded pseudo-random 40-op program (appends, overwrites, branch
    commits, tags, merges, rollbacks, compactions, both expiry modes)
    runs against the real store AND a pure-Python model tracking the
    expected visible row-set per ref; they must agree at every
    checkpoint. This is the round's core-feature torture test: every
    op lands on the base+segment read path, and compaction/expiry
    interleave with live refs."""
    import random

    from apache_iceberg_spark.catalog.snapshots import (
        commit_append_ref,
        commit_snapshot,
        compact_log,
        create_branch,
        create_tag,
        expire_snapshots_dirs,
        read_ref,
        rollback_to,
    )

    rng = random.Random(1106)
    table = fresh_dir(tmp_path, "r11_model") + "/t"
    next_id = [0]

    def fresh(n: int) -> tuple[list[int], object]:
        ids = list(range(next_id[0], next_id[0] + n))
        next_id[0] += n
        return ids, spark.range(ids[0], ids[-1] + 1).select(F.col("id"))

    ids, df = fresh(3)
    commit_snapshot(df, table, ts_ms=0)
    # model: ref -> visible id set; version -> id set (for rollback)
    model_refs: dict[str, set[int]] = {"main": set(ids)}
    model_vers: dict[int, set[int]] = {1: set(ids)}
    tags: set[str] = set()
    branches = ["main"]
    ts = [1]

    def check() -> None:
        for ref in branches + sorted(tags):
            want = sorted(model_refs[ref])
            got = sorted(
                r["id"] for r in read_ref(spark, table, ref).collect()
            )
            assert got == want, (ref, got, want)

    for step in range(40):
        # merge is excluded: its FF-vs-union case analysis would make
        # the model re-derive ancestry (m30/m35 + the round-10/11 merge
        # tests own that contract); everything else has exact
        # closed-form model semantics.
        op = rng.choice(
            ["append", "append", "append", "overwrite", "branch",
             "tag", "rollback", "compact", "expire"]
        )
        ts[0] += 1
        if op == "append":
            b = rng.choice(branches)
            ids, df = fresh(rng.randint(1, 3))
            v = commit_append_ref(df, table, branch=b, ts_ms=ts[0])
            model_refs[b] = model_refs[b] | set(ids)
            model_vers[v] = set(model_refs[b])
        elif op == "overwrite":
            from apache_iceberg_spark.catalog.snapshots import (
                commit_snapshot_ref,
            )

            b = rng.choice(branches)
            ids, df = fresh(rng.randint(1, 3))
            v = commit_snapshot_ref(df, table, branch=b, ts_ms=ts[0])
            model_refs[b] = set(ids)
            model_vers[v] = set(ids)
        elif op == "branch" and len(branches) < 4:
            name = f"b{step}"
            src = rng.choice(branches)
            create_branch(table, name, from_ref=src)
            branches.append(name)
            model_refs[name] = set(model_refs[src])
        elif op == "tag" and len(tags) < 3:
            name = f"t{step}"
            src = rng.choice(branches)
            create_tag(table, name, from_ref=src)
            tags.add(name)
            model_refs[name] = set(model_refs[src])
        elif op == "rollback":
            v = rng.choice(sorted(model_vers))
            new_v = rollback_to(table, v, ts_ms=ts[0])
            model_refs["main"] = set(model_vers[v])
            model_vers[new_v] = set(model_vers[v])
        elif op == "compact":
            compact_log(table)
        elif op == "expire":
            truncate = rng.random() < 0.5
            expired = expire_snapshots_dirs(
                table,
                older_than_ms=ts[0] + 10,
                keep_last=2,
                truncate_history=truncate,
            )
            for v in expired:
                model_vers.pop(v, None)
        if step % 5 == 4:
            check()
    check()


def test_evolved_append_reads_null_filled_everywhere(spark, ref_table, tmp_path):
    """Additive schema evolution: post-evolution reads serve the latest
    schema with old rows null-filled — at the head, at old versions
    (unchanged), on refs, and in the workspace layer."""
    from apache_iceberg_spark.catalog.snapshots import (
        commit_append,
        read_snapshot_dirs,
    )
    from apache_iceberg_spark.catalog.workspace import ws_commit, ws_read

    commit_append(
        spark.range(100, 103).select(
            F.col("id"), (F.col("id") * 2).alias("extra")
        ),
        ref_table,
    )
    head = read_snapshot_dirs(spark, ref_table)
    assert set(head.columns) == {"id", "extra"}
    rows = {r["id"]: r["extra"] for r in head.collect()}
    assert all(rows[i] is None for i in range(10))
    assert rows[100] == 200 and rows[102] == 204
    # old version untouched by the evolution
    v1 = read_snapshot_dirs(spark, ref_table, version=1)
    assert v1.columns == ["id"]
    # workspace layer shares the read path
    ws = fresh_dir(tmp_path, "r11_ws_ev")
    ws_commit(ws, {"t": spark.range(3).select(F.col("id"))}, ts_ms=1000)
    ws_commit(
        ws,
        {"t": spark.range(10, 12).select(
            F.col("id"), F.lit("x").alias("tag_col")
        )},
        ts_ms=2000,
    )
    got = ws_read(spark, ws, "t")
    assert set(got.columns) == {"id", "tag_col"}
    vals = {r["id"]: r["tag_col"] for r in got.collect()}
    assert vals[0] is None and vals[10] == "x"


def test_type_widening_across_snapshots(spark, ref_table):
    """Iceberg's legal promotions (int->long, float->double): a column
    widened by a later append reads back at the widest type everywhere,
    while illegal changes (string vs numeric) still raise."""
    from apache_iceberg_spark.catalog.snapshots import (
        commit_append,
        read_snapshot_dirs,
    )

    commit_append(
        spark.range(3).select(
            (F.col("id") + 100).alias("id"),
            F.col("id").cast("int").alias("small"),
            F.col("id").cast("float").alias("ratio"),
        ),
        ref_table,
    )
    commit_append(
        spark.range(3).select(
            (F.col("id") + 200).alias("id"),
            (F.col("id") + 5_000_000_000).cast("bigint").alias("small"),
            (F.col("id") / 3).cast("double").alias("ratio"),
        ),
        ref_table,
    )
    head = read_snapshot_dirs(spark, ref_table)
    types = dict(head.dtypes)
    assert types["small"] == "bigint" and types["ratio"] == "double"
    got = {r["id"]: r["small"] for r in head.collect() if r["id"] >= 100}
    assert got[100] == 0 and got[200] == 5_000_000_000
    # illegal promotion still raises loudly
    commit_append(
        spark.range(1).select(
            (F.col("id") + 300).alias("id"),
            F.lit("not-a-number").alias("small"),
            F.lit(0.5).alias("ratio"),
        ),
        ref_table,
    )
    with pytest.raises(Exception, match="(?i)union|incompatible|type"):
        read_snapshot_dirs(spark, ref_table).collect()


def test_ts24_matches_python_exact_decomposition(spark):
    """Replicate the exact-integer STL-lite (x25 scaling, truncating
    micro divisions) in pure Python from the raw parquet and compare
    every emitted point of all three series."""
    import collections

    import pandas as pd

    from apache_iceberg_spark.operators.timeseries import (
        TS24_HALF,
        TS24_MICRO,
        TS24_WIN,
    )
    from apache_iceberg_spark.registry import REGISTRY, _ensure_loaded

    def tdiv(a: int, b: int) -> int:
        q = abs(a) // b
        return q if a >= 0 else -q  # both engines truncate toward zero

    _ensure_loaded()
    got = {
        (r["event_type"], r["t"]): (
            r["x"], r["trend_micro"], r["seasonal_micro"],
            r["residual_micro"],
        )
        for r in REGISTRY["ts24_stl_decompose"].spark(spark, SF_DIR).collect()
    }
    df = pd.read_parquet(SF_DIR + "/events.parquet")
    ts = pd.to_datetime(df["ts"])
    h0 = ts.min().floor("h")
    h1 = ts.max().floor("h")
    n_hours = int((h1 - h0) / pd.Timedelta(hours=1)) + 1
    series: dict[str, list[int]] = {
        et: [0] * n_hours for et in df["event_type"].unique()
    }
    for et, t in zip(df["event_type"], ts):
        series[et][int((t.floor("h") - h0) / pd.Timedelta(hours=1))] += 1
    hod0 = h0.hour
    n_pts = 0
    for et, xs in series.items():
        # seasonal sums over interior rows
        s_raw = collections.Counter()
        n_h = collections.Counter()
        interior = {}
        for t in range(TS24_HALF, n_hours - TS24_HALF):
            t25 = sum(xs[t - TS24_HALF: t + TS24_HALF + 1])
            d25 = TS24_WIN * xs[t] - t25
            hod = (hod0 + t) % 24
            s_raw[hod] += d25
            n_h[hod] += 1
            interior[t] = (xs[t], t25, hod)
        for t, (x, t25, hod) in interior.items():
            trend = tdiv(t25 * TS24_MICRO, TS24_WIN)
            seas = tdiv(s_raw[hod] * TS24_MICRO, TS24_WIN * n_h[hod])
            resid = x * TS24_MICRO - trend - seas
            assert got[(et, t)] == (x, trend, seas, resid), (et, t)
            n_pts += 1
    assert n_pts == len(got) and n_pts > 1000
    # the decomposition is additive by construction at every point
    for (et, t), (x, tr, se, re_) in got.items():
        assert tr + se + re_ == x * TS24_MICRO
