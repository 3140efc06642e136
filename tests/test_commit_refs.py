"""The table commit log's one ref core: ``main``'s head rule shared by
the pre-ref writers (``commit_snapshot``/``commit_append``), the ``*_ref``
writers and the "latest" readers, plus the per-directory schema probe
behind ``_read_dirs`` grouping and ``_ref_column_names``."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F


def _ids(df) -> list[int]:
    return sorted(r["id"] for r in df.select("id").collect())


@pytest.fixture
def table(spark):
    from apache_iceberg_spark.catalog.snapshots import commit_snapshot

    t = tempfile.mkdtemp(prefix="refcore_") + "/t"
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


def test_linear_commit_snapshots_expire_without_pinning_main(spark):
    """Pre-ref writers never pin ``main``: a linear table's history stays
    expirable (pinning would protect main's whole ancestry)."""
    from apache_iceberg_spark.catalog.snapshots import (
        commit_snapshot,
        expire_snapshots_dirs,
        list_refs,
    )

    t = tempfile.mkdtemp(prefix="refcore_lin_") + "/t"
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


def test_truncated_footer_groups_alone_and_names_dir(spark):
    from apache_iceberg_spark.catalog.snapshots import (
        _group_dirs,
        _ref_column_names,
        commit_append,
        commit_snapshot,
        list_snapshots,
    )

    base = tempfile.mkdtemp(prefix="refcore_probe_")
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
    (ddir,) = list_snapshots(t)[-1]["adds"]
    for f in _parquet_files(ddir):
        with open(f, "r+b") as fh:
            fh.truncate(os.path.getsize(f) // 2)
    with pytest.raises(ValueError, match=os.path.basename(ddir)):
        _ref_column_names(t, "main")


def test_root_files_beside_partition_dirs_group_alone_and_name_dir(spark):
    from apache_iceberg_spark.catalog.snapshots import (
        _group_dirs,
        _ref_column_names,
        commit_append,
        commit_snapshot,
        list_snapshots,
    )

    base = tempfile.mkdtemp(prefix="refcore_mixed_")
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
    (ddir,) = list_snapshots(t)[-1]["adds"]
    spark.range(6, 8).select(F.col("id")).write.parquet(
        os.path.join(ddir, "p=1")
    )
    with pytest.raises(ValueError, match=os.path.basename(ddir)):
        _ref_column_names(t, "main")
