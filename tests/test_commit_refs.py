"""The table commit log's one ref core: ``main``'s head rule shared by
the pre-ref writers (``commit_snapshot``/``commit_append``), the ``*_ref``
writers and the "latest" readers, plus the per-directory schema probe
behind ``_read_dirs`` grouping and ``_ref_column_names``; and the one
file-set payload both logs share: legacy entry shapes upgraded at
parse, and the dirs orphan sweeps and expiries remove."""

from __future__ import annotations

import json
import os

from functools import reduce

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tests.conftest import fresh_dir


def _ids(df) -> list[int]:
    return sorted(r["id"] for r in df.select("id").collect())


@pytest.fixture
def table(spark, tmp_path):
    from apache_iceberg_spark.catalog.snapshots import commit_snapshot

    t = fresh_dir(tmp_path, "refcore") + "/t"
    commit_snapshot(
        spark.range(5).select(F.col("id")), t, ts_ms=1000, stats_cols=["id"]
    )
    return t


def test_pre_ref_writers_after_merge_into_land_on_main(spark, table):
    """``merge_into`` pins ``main``; a later ``commit_append`` or
    ``commit_snapshot`` must parent on that pinned head and move it, so
    ``read_ref(main)`` and the default read agree and see the rows."""
    from apache_iceberg_spark.catalog.snapshots import (
        commit_append,
        commit_snapshot,
        list_refs,
        merge_into,
        read_ref,
        read_snapshot_dirs,
    )

    merge_into(
        spark, table, spark.range(3, 7).select(F.col("id")), on=["id"],
        strategy="mor",
    )
    assert "main" in list_refs(table)["branches"]
    v = commit_append(spark.range(100, 103).select(F.col("id")), table)
    main = _ids(read_ref(spark, table, "main"))
    assert main == [0, 1, 2, 3, 4, 5, 6, 100, 101, 102]
    assert _ids(read_snapshot_dirs(spark, table)) == main
    assert list_refs(table)["branches"]["main"] == v

    v = commit_snapshot(spark.range(50, 52).select(F.col("id")), table)
    assert _ids(read_ref(spark, table, "main")) == [50, 51]
    assert _ids(read_snapshot_dirs(spark, table)) == [50, 51]
    assert list_refs(table)["branches"]["main"] == v


def test_wap_branch_commit_invisible_to_latest_defaults(spark, table):
    """An unmerged commit on ``etl`` is the log tail, but the readers
    that default to "latest" read ``main``'s head."""
    from apache_iceberg_spark.catalog.snapshots import (
        commit_append_ref,
        create_branch,
        read_incremental,
        read_pruned,
        read_snapshot_dirs,
    )

    create_branch(table, "etl")
    commit_append_ref(
        spark.range(100, 102).select(F.col("id")), table, branch="etl"
    )
    assert _ids(read_snapshot_dirs(spark, table)) == [0, 1, 2, 3, 4]
    assert read_incremental(spark, table, from_version=1).count() == 0
    df, _scanned, _pruned = read_pruned(spark, table, "id", 0, 1000)
    assert _ids(df) == [0, 1, 2, 3, 4]


def test_linear_commit_snapshots_expire_without_pinning_main(spark, tmp_path):
    """Pre-ref writers never pin ``main``: a linear table's history stays
    expirable (pinning would protect main's whole ancestry)."""
    from apache_iceberg_spark.catalog.snapshots import (
        commit_snapshot,
        expire_snapshots_dirs,
        list_refs,
    )

    t = fresh_dir(tmp_path, "refcore_lin") + "/t"
    for i, ts in enumerate((1000, 2000, 3000)):
        commit_snapshot(spark.range(i, i + 2).select(F.col("id")), t, ts_ms=ts)
    assert list_refs(t)["branches"] == {}
    assert expire_snapshots_dirs(t, older_than_ms=10_000, keep_last=1) == [1, 2]


def test_branch_keeps_main_ancestry_protected(spark, table):
    """Once a branch exists ``main`` is pinned, and main's whole
    ancestry stays protected from expiry."""
    from apache_iceberg_spark.catalog.snapshots import (
        commit_append,
        create_branch,
        expire_snapshots_dirs,
        list_snapshots,
    )

    commit_append(spark.range(5, 7).select(F.col("id")), table, ts_ms=2000)
    create_branch(table, "b")
    commit_append(spark.range(7, 9).select(F.col("id")), table, ts_ms=3000)
    assert expire_snapshots_dirs(table, older_than_ms=10_000, keep_last=1) == []
    assert [e["version"] for e in list_snapshots(table)] == [1, 2, 3]


# ---------------------------------------------------------------------------
# One per-directory schema probe: _read_dirs grouping + _ref_column_names


def _two_dirs(spark, base):
    a, b = os.path.join(base, "a"), os.path.join(base, "b")
    spark.range(3).select(F.col("id")).write.parquet(a)
    spark.range(3, 6).select(F.col("id")).write.parquet(b)
    return a, b


def _parquet_files(path):
    return sorted(
        os.path.join(r, f)
        for r, _d, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )


def test_truncated_footer_groups_alone_and_names_dir(spark, tmp_path):
    from apache_iceberg_spark.catalog.snapshots import (
        _group_dirs,
        _ref_column_names,
        commit_append,
        commit_snapshot,
        list_snapshots,
    )

    base = fresh_dir(tmp_path, "refcore_probe")
    a, b = _two_dirs(spark, base)
    bad = os.path.join(base, "bad")
    spark.range(6, 9).select(F.col("id")).write.parquet(bad)
    for f in _parquet_files(bad):
        with open(f, "r+b") as fh:
            fh.truncate(os.path.getsize(f) // 2)
    assert _group_dirs([a, b, bad]) == [[a, b], [bad]]

    t = os.path.join(base, "t")
    commit_snapshot(spark.range(3).select(F.col("id")), t)
    commit_append(spark.range(3, 6).select(F.col("id")), t)
    ((ddir, _v),) = list_snapshots(t)[-1]["adds"]
    for f in _parquet_files(ddir):
        with open(f, "r+b") as fh:
            fh.truncate(os.path.getsize(f) // 2)
    with pytest.raises(ValueError, match=os.path.basename(ddir)):
        _ref_column_names(t, "main")


def test_root_files_beside_partition_dirs_group_alone_and_name_dir(spark, tmp_path):
    from apache_iceberg_spark.catalog.snapshots import (
        _group_dirs,
        _ref_column_names,
        commit_append,
        commit_snapshot,
        list_snapshots,
    )

    base = fresh_dir(tmp_path, "refcore_mixed")
    a, b = _two_dirs(spark, base)
    mixed = os.path.join(base, "mixed")
    spark.range(6, 9).select(F.col("id")).write.parquet(mixed)
    spark.range(9, 12).select(F.col("id")).write.parquet(
        os.path.join(mixed, "p=1")
    )
    assert _group_dirs([a, mixed, b]) == [[a, b], [mixed]]

    t = os.path.join(base, "t")
    commit_snapshot(spark.range(3).select(F.col("id")), t)
    commit_append(spark.range(3, 6).select(F.col("id")), t)
    ((ddir, _v),) = list_snapshots(t)[-1]["adds"]
    spark.range(6, 8).select(F.col("id")).write.parquet(
        os.path.join(ddir, "p=1")
    )
    with pytest.raises(ValueError, match=os.path.basename(ddir)):
        _ref_column_names(t, "main")


# ---------------------------------------------------------------------------
# One file-set payload: legacy entry shapes upgrade at parse, and the
# operations on file sets (orphan sweep, expiry) keep their answers


def _keys(path, keys):
    """A one-file parquet dir of a ``k`` column (no Spark job)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    pq.write_table(
        pa.table({"k": pa.array(keys, pa.int64())}),
        os.path.join(path, "part-0.parquet"),
    )
    return path


def _k(path, lo, hi):
    return _keys(path, list(range(lo, hi)))


def _legacy_table(spark, base):
    """A table log written in the five legacy entry shapes: ``path`` with
    entry-level stats, ``adds`` + ``parent`` with entry-level stats,
    ``adds`` + ``dels`` (MoR), cumulative ``paths`` without a parent,
    ``pathsv`` triples with stats plus a versioned ``dels`` record, and a
    MoR entry whose ``dels`` record has no ``v``. v1-v3 sit in the base
    file, v4-v6 in the append segment."""
    t = os.path.join(base, "t")
    os.makedirs(t)
    d1 = _k(os.path.join(t, "v1"), 0, 10)
    d2 = _k(os.path.join(t, "d2"), 10, 20)
    d3 = _k(os.path.join(t, "d3"), 20, 25)
    e3 = _keys(os.path.join(t, "e3"), [3, 12])
    d6 = _k(os.path.join(t, "d6"), 30, 33)
    e6 = _keys(os.path.join(t, "e6"), [4, 21, 31])
    base_log = [
        {"version": 1, "ts_ms": 1000, "path": d1, "stats": {"k": [0, 9]},
         "partition_by": None},
        {"version": 2, "ts_ms": 2000, "adds": [d2], "parent": 1,
         "stats": {"k": [10, 19]}, "partition_by": None},
        {"version": 3, "ts_ms": 3000, "adds": [d3], "parent": 2,
         "dels": [{"path": e3, "on": ["k"], "stats": {"k": [3, 12]}}],
         "partition_by": None},
    ]
    seg = [
        {"version": 4, "ts_ms": 4000, "paths": [d1, d2]},
        {"version": 5, "ts_ms": 5000, "root": True, "partition_by": None,
         "pathsv": [[d1, 1, {"k": [0, 9]}], [d2, 2],
                    [d3, 3, {"k": [20, 24]}]],
         "dels": [{"path": e3, "on": ["k"], "v": 3,
                   "stats": {"k": [3, 12]}}]},
        {"version": 6, "ts_ms": 6000, "adds": [d6], "parent": 5,
         "dels": [{"path": e6, "on": ["k"]}], "partition_by": None},
    ]
    with open(os.path.join(t, "_versions.json"), "w") as f:
        json.dump(base_log, f)
    with open(os.path.join(t, "_versions.jsonl"), "w") as f:
        f.writelines(json.dumps(e) + "\n" for e in seg)
    return t


def _legacy_ws(spark, base):
    """A workspace log whose per-table payloads hold bare paths."""
    ws = os.path.join(base, "ws")
    a1 = _k(os.path.join(ws, "a", "w1"), 0, 3)
    b1 = _k(os.path.join(ws, "b", "w1"), 10, 12)
    a2 = _k(os.path.join(ws, "a", "w2"), 3, 5)
    b3 = _k(os.path.join(ws, "b", "w3"), 20, 21)
    log = [
        {"version": 1, "ts_ms": 1000,
         "tables": {"a": {"set": [a1]}, "b": {"set": [b1]}}},
        {"version": 2, "ts_ms": 2000, "parent": 1,
         "tables": {"a": {"adds": [a2], "partition_by": None}}},
        {"version": 3, "ts_ms": 3000, "parent": 2,
         "tables": {"b": {"set": [b3]}, "a": {"set": []}}},
    ]
    with open(os.path.join(ws, "_versions.jsonl"), "w") as f:
        f.writelines(json.dumps(e) + "\n" for e in log)
    return ws


def _name(path):
    """A data dir's name without its random token (``d3-1a2b3c4d`` ->
    ``d3``), relative to the table dir for workspace dirs."""
    parent, leaf = os.path.split(path)
    name = leaf.split("-")[0]
    return name if leaf[0] in "vde" else f"{os.path.basename(parent)}/{name}"


def _plan(by_v, v):
    from apache_iceberg_spark.catalog.snapshots import _resolve

    data, dels = _resolve(by_v, v)
    return (
        [(_name(p), dv, s) for p, dv, s in data],
        [(_name(p), on, dv, s) for p, on, dv, s in dels],
    )


_LEGACY_PLANS = {
    1: ([("v1", 1, {"k": [0, 9]})], []),
    2: ([("v1", 1, {"k": [0, 9]}), ("d2", 2, {"k": [10, 19]})], []),
    3: (
        [("v1", 1, {"k": [0, 9]}), ("d2", 2, {"k": [10, 19]}),
         ("d3", 3, {})],
        [("e3", ("k",), 3, {"k": [3, 12]})],
    ),
    4: ([("v1", 4, {}), ("d2", 4, {})], []),
    5: (
        [("v1", 1, {"k": [0, 9]}), ("d2", 2, {}),
         ("d3", 3, {"k": [20, 24]})],
        [("e3", ("k",), 3, {"k": [3, 12]})],
    ),
    6: (
        [("v1", 1, {"k": [0, 9]}), ("d2", 2, {}),
         ("d3", 3, {"k": [20, 24]}), ("d6", 6, {})],
        [("e3", ("k",), 3, {"k": [3, 12]}), ("e6", ("k",), 6, {})],
    ),
}
_LEGACY_ROWS = {
    1: list(range(10)),
    2: list(range(20)),
    3: [k for k in range(25) if k not in (3, 12)],
    4: list(range(20)),
    5: [k for k in range(25) if k not in (3, 12)],
    6: [k for k in range(25) if k not in (3, 4, 12, 21)] + [30, 31, 32],
}
_LEGACY_PRUNED = {
    (2, 10, 19): (1, 1, 0, 0),
    (3, 0, 9): (2, 1, 1, 0),
    (4, 10, 19): (2, 0, 0, 0),
    (6, 0, 9): (3, 1, 2, 0),
    (6, 20, 24): (3, 1, 1, 1),
}


def _legacy_answers(spark, t, scan=True):
    from apache_iceberg_spark.catalog.snapshots import (
        _by_version,
        _read_log,
        read_incremental,
        read_pruned_detail,
        read_snapshot_dirs,
    )

    by_v = _by_version(_read_log(t))
    assert {v: _plan(by_v, v) for v in by_v} == _LEGACY_PLANS
    if not scan:  # the plan is the whole input of every read below
        return
    # every read in one collect: a tag column names the read
    frames = [
        read_snapshot_dirs(spark, t, v).select(F.lit(str(v)).alias("q"), "k")
        for v in by_v
    ]
    pruned = {}
    for v, lo, hi in _LEGACY_PRUNED:
        df, d = read_pruned_detail(spark, t, "k", lo, hi, version=v)
        frames.append(df.select(F.lit(f"{v} {lo} {hi}").alias("q"), "k"))
        pruned[v, lo, hi] = (
            d["data_scanned"], d["data_pruned"], d["dels_applied"],
            d["dels_pruned"],
        )
    assert pruned == _LEGACY_PRUNED
    frames.append(
        read_incremental(spark, t, 1, 2).select(F.lit("inc").alias("q"), "k")
    )
    got: dict = {}
    for r in reduce(DataFrame.unionByName, frames).collect():
        got.setdefault(r["q"], []).append(r["k"])
    want = {str(v): rows for v, rows in _LEGACY_ROWS.items()}
    want.update(
        (f"{v} {lo} {hi}", [k for k in _LEGACY_ROWS[v] if lo <= k <= hi])
        for v, lo, hi in _LEGACY_PRUNED
    )
    want["inc"] = list(range(10, 20))
    assert {q: sorted(ks) for q, ks in got.items()} == want


def test_legacy_table_shapes_upgrade_at_parse(spark, tmp_path):
    """Every legacy table-log shape resolves to the plan, pruning
    ledger and rows the per-shape walkers gave; ``compact_log`` rewrites
    the log in the one payload and the answers do not move."""
    from apache_iceberg_spark.catalog.snapshots import (
        _LOG_CACHE,
        _read_log,
        compact_log,
    )

    t = _legacy_table(spark, str(tmp_path))
    _legacy_answers(spark, t)
    assert compact_log(t) == 3
    with open(os.path.join(t, "_versions.json")) as f:
        log = json.load(f)
    assert [e["version"] for e in log] == [1, 2, 3, 4, 5, 6]
    for e in log:
        assert ("set" in e) != ("adds" in e), e
        assert not {"path", "paths", "pathsv", "stats"} & set(e), e
        assert all("v" in d for d in e.get("dels", [])), e
    _LOG_CACHE.pop(t)  # re-parse the rewritten file
    assert _read_log(t) == log
    _legacy_answers(spark, t, scan=False)


_LEGACY_WS = {
    1: {"a": ["a/w1"], "b": ["b/w1"]},
    2: {"a": ["a/w1", "a/w2"], "b": ["b/w1"]},
    3: {"b": ["b/w3"]},
}


def test_legacy_workspace_shapes_upgrade_at_parse(spark, tmp_path):
    """Bare-path workspace payloads resolve to the sets and rows they
    gave (the empty ``set`` still tombstones); ``ws_compact_log``
    rewrites every payload as ``[path, v]`` items."""
    from apache_iceberg_spark.catalog.snapshots import _by_version, _read_log
    from apache_iceberg_spark.catalog.workspace import (
        _ws_table,
        ws_compact_log,
        ws_list_tables,
        ws_list_versions,
        ws_read,
    )

    ws = _legacy_ws(spark, str(tmp_path))
    sizes = {"a/w1": 3, "a/w2": 2, "b/w1": 2, "b/w3": 1}

    def answers():
        by_v = _by_version(_read_log(ws))
        assert {
            v: {
                n: [_name(p) for p, _v, _s in _ws_table(by_v, v, n)]
                for n in ws_list_tables(ws, v)
            }
            for v in by_v
        } == _LEGACY_WS
        for v, tables in _LEGACY_WS.items():
            for n, dirs in tables.items():
                assert ws_read(spark, ws, n, version=v).count() == sum(
                    sizes[d] for d in dirs
                )

    answers()
    assert ws_compact_log(ws) == 3
    for e in ws_list_versions(ws):
        for p in e["tables"].values():
            assert ("set" in p) != ("adds" in p), e
            assert all(
                isinstance(x, list) and x[1] == e["version"]
                for x in p.get("set", p.get("adds"))
            ), e
    answers()


def test_branched_table_orphans_and_expiry_remove_pinned_dirs(spark, tmp_path):
    """A history with an abandoned WAP branch, a fast-forward merge, a
    MoR merge and a rollback: the orphan sweep and both expiry modes
    remove exactly the dirs no retained entry names."""
    from apache_iceberg_spark.catalog.snapshots import (
        commit_append,
        commit_append_ref,
        commit_snapshot,
        create_branch,
        delete_branch,
        expire_snapshots_dirs,
        merge_branch,
        merge_into,
        read_snapshot_dirs,
        remove_orphan_dirs,
        rollback_to,
    )

    t = os.path.join(str(tmp_path), "t")
    commit_snapshot(
        spark.range(10).select(F.col("id")), t, ts_ms=1000, stats_cols=["id"]
    )
    commit_append(spark.range(10, 20).select(F.col("id")), t, ts_ms=2000)
    create_branch(t, "etl")
    create_branch(t, "audit")
    commit_append_ref(spark.range(100, 103).select(F.col("id")), t, "etl")
    commit_append_ref(spark.range(50, 53).select(F.col("id")), t, "audit")
    assert merge_branch(t, "audit") == 5
    assert merge_into(
        spark, t, spark.range(5, 13).select(F.col("id")), on=["id"],
        strategy="mor",
    ) == 6
    assert rollback_to(t, 5, ts_ms=7000) == 7
    delete_branch(t, "etl")
    delete_branch(t, "audit")
    assert commit_append(spark.range(200, 202).select(F.col("id")), t) == 8
    _k(os.path.join(t, "d99-0badf00d"), 0, 1)
    rows = list(range(20)) + [50, 51, 52, 200, 201]

    def dirs():
        return sorted(_name(os.path.join(t, n)) for n in os.listdir(t)
                      if n[0] in "vde")

    assert [_name(p) for p in remove_orphan_dirs(t)] == ["d99"]
    cutoff = 4_102_444_800_000  # 2100-01-01: every entry is old enough
    assert expire_snapshots_dirs(t, cutoff) == [3, 4]
    assert dirs() == ["d2", "d4", "d6", "d8", "v1"]
    assert _ids(read_snapshot_dirs(spark, t)) == rows
    assert expire_snapshots_dirs(t, cutoff, truncate_history=True) == [
        1, 2, 5, 6, 7,
    ]
    assert dirs() == ["d2", "d4", "d8", "v1"]
    assert _ids(read_snapshot_dirs(spark, t)) == rows
    assert remove_orphan_dirs(t) == []


def test_two_table_workspace_orphans_and_expiry_remove_pinned_dirs(
    spark, tmp_path
):
    from apache_iceberg_spark.catalog.workspace import (
        ws_commit,
        ws_create_branch,
        ws_delete_branch,
        ws_expire_versions,
        ws_read,
        ws_remove_orphans,
        ws_rollback,
    )

    ws = str(tmp_path / "ws")
    r = lambda lo, hi: spark.range(lo, hi).select(F.col("id"))  # noqa: E731
    ws_commit(ws, {"a": r(0, 5), "b": r(10, 15)}, ts_ms=1000)
    ws_create_branch(ws, "etl")
    ws_commit(ws, {"a": r(5, 7)}, ts_ms=2000)
    ws_commit(ws, {"b": r(20, 22)}, branch="etl", ts_ms=3000)
    ws_commit(ws, {"a": r(100, 102)}, mode="overwrite", ts_ms=4000)
    assert ws_rollback(ws, 2, ts_ms=5000) == 5
    ws_delete_branch(ws, "etl")
    ws_commit(ws, {"b": r(30, 31)}, ts_ms=6000)
    _k(os.path.join(ws, "a", "w99-0badf00d"), 0, 1)

    def dirs():
        return sorted(
            f"{n}/{d.split('-')[0]}"
            for n in ("a", "b")
            for d in os.listdir(os.path.join(ws, n))
            if d.startswith("w")
        )

    def reads():
        return (
            _ids(ws_read(spark, ws, "a")), _ids(ws_read(spark, ws, "b"))
        )

    want = (list(range(7)), list(range(10, 15)) + [30])
    assert [_name(p) for p in ws_remove_orphans(ws)] == ["a/w99"]
    assert ws_expire_versions(ws, 10_000) == [3]
    assert dirs() == ["a/w1", "a/w2", "a/w4", "b/w1", "b/w6"]
    assert reads() == want
    assert ws_expire_versions(ws, 10_000, truncate_history=True) == [
        1, 2, 4, 5,
    ]
    assert dirs() == ["a/w1", "a/w2", "b/w1", "b/w6"]
    assert reads() == want
    assert ws_remove_orphans(ws) == []
