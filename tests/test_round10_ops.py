"""Round-10 unit tests: ref-aware expiry/orphan GC (VERDICT r9 ask #1),
the commit-log CAS (ask #5), delta-form log entries (ask #6), the
idempotency-walk fallback + partition-layout validation (ADVICE r9),
and the multi-table workspace commit (ask #2)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import fresh_dir


@pytest.fixture()
def ref_table(spark, tmp_path):
    from apache_iceberg_spark.catalog.snapshots import commit_snapshot

    table = fresh_dir(tmp_path, "r10_refs") + "/t"
    commit_snapshot(spark.range(10).select(F.col("id")), table, ts_ms=1000)
    return table


def _ids(spark, table, ref):
    from apache_iceberg_spark.catalog.snapshots import read_ref

    return sorted(r["id"] for r in read_ref(spark, table, ref).collect())


# ---------------------------------------------------------------------------
# Ask #1: expiry and orphan cleanup protect ref-reachable snapshots


def test_tag_survives_expiry_and_orphan_gc(spark, ref_table):
    """A tagged snapshot OFF main's lineage must stay readable after an
    expiry whose cutoff covers it — 'addressable by name forever until
    explicitly deleted' — its data dirs must survive remove_orphan_dirs,
    expiry must still reclaim genuinely UNREACHABLE commits while the
    tag lives, and deleting the tag is what finally frees it."""
    from apache_iceberg_spark.catalog.snapshots import (
        commit_append_ref,
        create_branch,
        create_tag,
        delete_branch,
        delete_tag,
        expire_snapshots_dirs,
        read_snapshot_dirs,
        remove_orphan_dirs,
    )

    # v2 on a branch, tagged, branch dropped -> alive ONLY via the tag.
    create_branch(ref_table, "dead")
    commit_append_ref(
        spark.range(50, 55).select(F.col("id")),
        ref_table,
        branch="dead",
        ts_ms=1500,
    )
    create_tag(ref_table, "audit", from_ref="dead")  # pins v2
    delete_branch(ref_table, "dead")
    # v3 on a second branch, dropped untagged -> truly unreachable.
    create_branch(ref_table, "dead2")
    commit_append_ref(
        spark.range(60, 62).select(F.col("id")),
        ref_table,
        branch="dead2",
        ts_ms=1600,
    )
    delete_branch(ref_table, "dead2")
    # main advances past everything.
    commit_append_ref(
        spark.range(10, 12).select(F.col("id")),
        ref_table,
        branch="main",
        ts_ms=2000,
    )

    expired = expire_snapshots_dirs(ref_table, older_than_ms=10_000,
                                    keep_last=1)
    assert expired == [3]  # the untagged dead lineage, nothing else
    assert remove_orphan_dirs(ref_table) == []
    assert _ids(spark, ref_table, "audit") == list(range(10)) + list(
        range(50, 55)
    )
    assert _ids(spark, ref_table, "main") == list(range(12))

    # Explicit ref deletion is THE way a snapshot becomes expirable:
    delete_tag(ref_table, "audit")
    expired2 = expire_snapshots_dirs(ref_table, older_than_ms=10_000,
                                     keep_last=1)
    assert expired2 == [2]
    with pytest.raises(ValueError, match="unknown ref"):
        _ids(spark, ref_table, "audit")
    with pytest.raises(ValueError, match="not found"):
        read_snapshot_dirs(spark, ref_table, version=2).collect()


def test_branch_head_survives_expiry(spark, ref_table):
    """A non-main branch older than the cutoff keeps its head AND its
    ancestry (merge needs the walk intact)."""
    from apache_iceberg_spark.catalog.snapshots import (
        commit_append_ref,
        create_branch,
        expire_snapshots_dirs,
        merge_branch,
    )

    create_branch(ref_table, "etl")
    commit_append_ref(
        spark.range(10, 12).select(F.col("id")),
        ref_table,
        branch="etl",
        ts_ms=1500,
    )
    commit_append_ref(
        spark.range(20, 22).select(F.col("id")),
        ref_table,
        branch="main",
        ts_ms=9000,
    )
    assert expire_snapshots_dirs(
        ref_table, older_than_ms=10_000, keep_last=1
    ) == []  # everything is ref-reachable
    # The branch is still fully mergeable after the expiry attempt.
    merge_branch(ref_table, "etl")
    assert _ids(spark, ref_table, "main") == (
        list(range(10)) + [10, 11, 20, 21]
    )


def test_expiry_materializes_orphaned_delta_entries(spark, tmp_path):
    """A retained delta entry whose parent is expired gets its full path
    list inlined, so it stays readable without the pruned ancestor (the
    pre-ref linear table shape m22 exercises)."""
    from apache_iceberg_spark.catalog.snapshots import (
        commit_append,
        commit_snapshot,
        expire_snapshots_dirs,
        list_snapshots,
        read_snapshot_dirs,
    )

    table = fresh_dir(tmp_path, "r10_mat") + "/t"
    commit_snapshot(spark.range(5).select(F.col("id")), table, ts_ms=1000)
    commit_append(spark.range(5, 8).select(F.col("id")), table, ts_ms=2000)
    commit_append(spark.range(8, 9).select(F.col("id")), table, ts_ms=3000)
    # No refs file -> pure linear semantics: v1, v2 expire.
    expired = expire_snapshots_dirs(table, older_than_ms=10_000, keep_last=1)
    assert expired == [1, 2]
    (entry,) = list_snapshots(table)
    assert "set" in entry and "adds" not in entry
    got = sorted(
        r["id"] for r in read_snapshot_dirs(spark, table).collect()
    )
    assert got == list(range(9))


# ---------------------------------------------------------------------------
# Ask #5: commit-log CAS — a lost race raises, never silently drops


class _RacingDF:
    """Wraps a DataFrame; the first access to .write runs a racing commit
    first, simulating a concurrent writer that wins the CAS."""

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


def test_commit_conflict_on_lost_race(spark, ref_table):
    from apache_iceberg_spark.catalog.snapshots import (
        CommitConflict,
        commit_append,
        list_snapshots,
        read_snapshot_dirs,
    )

    racer_df = spark.range(100, 103).select(F.col("id"))
    loser_df = spark.range(200, 203).select(F.col("id"))

    def race():
        commit_append(racer_df, ref_table)

    with pytest.raises(CommitConflict, match="head moved"):
        commit_append(_RacingDF(loser_df, race), ref_table)
    # Exactly one commit won; the loser did NOT silently vanish-append.
    assert [e["version"] for e in list_snapshots(ref_table)] == [1, 2]
    got = sorted(
        r["id"] for r in read_snapshot_dirs(spark, ref_table).collect()
    )
    assert got == list(range(10)) + [100, 101, 102]


def test_commit_conflict_on_ref_commit_race(spark, ref_table):
    from apache_iceberg_spark.catalog.snapshots import (
        CommitConflict,
        commit_append_ref,
        create_branch,
    )

    create_branch(ref_table, "etl")
    racer_df = spark.range(100, 103).select(F.col("id"))
    loser_df = spark.range(200, 203).select(F.col("id"))

    def race():
        commit_append_ref(racer_df, ref_table, branch="main")

    with pytest.raises(CommitConflict, match="head moved"):
        commit_append_ref(
            _RacingDF(loser_df, race), ref_table, branch="etl"
        )


# ---------------------------------------------------------------------------
# Ask #6: delta-form log entries — O(commits), not O(commits^2)


def test_append_entries_store_deltas_not_cumulative_lists(spark, ref_table):
    from apache_iceberg_spark.catalog.snapshots import (
        commit_append,
        list_snapshots,
    )

    for i in range(3):
        commit_append(
            spark.range(10 + i, 11 + i).select(F.col("id")), ref_table
        )
    log = list_snapshots(ref_table)
    for e in log[1:]:
        assert len(e["adds"]) == 1 and e["parent"] == e["version"] - 1
    # log bytes grow linearly: the last entry is no bigger than the second
    assert len(json.dumps(log[-1])) <= len(json.dumps(log[1])) + 8


def test_legacy_cumulative_log_still_reads(spark, tmp_path):
    """Pre-round-10 logs store cumulative 'paths' lists; reads, appends,
    and incremental scans over a mixed log must keep working."""
    from apache_iceberg_spark.catalog.snapshots import (
        _LOG,
        commit_append,
        read_incremental,
        read_snapshot_dirs,
    )

    table = fresh_dir(tmp_path, "r10_legacy") + "/t"
    os.makedirs(table)
    v1 = os.path.join(table, "v1")
    d2 = os.path.join(table, "d2")
    spark.range(3).select(F.col("id")).write.parquet(v1)
    spark.range(3, 5).select(F.col("id")).write.parquet(d2)
    legacy = [
        {"version": 1, "ts_ms": 1000, "path": v1},
        {"version": 2, "ts_ms": 2000, "paths": [v1, d2]},
    ]
    with open(os.path.join(table, _LOG), "w") as f:
        json.dump(legacy, f)
    assert read_snapshot_dirs(spark, table).count() == 5
    commit_append(spark.range(5, 6).select(F.col("id")), table)
    assert read_snapshot_dirs(spark, table).count() == 6
    assert read_incremental(spark, table, from_version=1).count() == 3


# ---------------------------------------------------------------------------
# ADVICE r9: idempotency walk crosses mixed keyed/linear lineages


def test_idempotency_key_found_across_linear_commits(spark, ref_table):
    from apache_iceberg_spark.catalog.snapshots import (
        commit_append,
        commit_append_ref,
        create_branch,
        list_snapshots,
    )

    create_branch(ref_table, "main_pin")  # force _refs.json to exist
    v_keyed = commit_append_ref(
        spark.range(10, 12).select(F.col("id")),
        ref_table,
        branch="main",
        idempotency_key="batch-7",
    )
    # A linear-API commit on the same lineage (no parent field recorded
    # pre-r10; with r10 it records one, but the fallback rule must cover
    # BOTH) — then a retry bearing the old key must find the original.
    commit_append(spark.range(12, 14).select(F.col("id")), ref_table)
    # advance main to the linear tail so the walk starts past it
    from apache_iceberg_spark.catalog.snapshots import _read_refs, _write_refs

    refs = _read_refs(ref_table)
    refs["branches"]["main"] = list_snapshots(ref_table)[-1]["version"]
    _write_refs(ref_table, refs)
    n_before = len(list_snapshots(ref_table))
    retry_v = commit_append_ref(
        spark.range(10, 12).select(F.col("id")),
        ref_table,
        branch="main",
        idempotency_key="batch-7",
    )
    assert retry_v == v_keyed
    assert len(list_snapshots(ref_table)) == n_before  # no double-append


def test_idempotency_key_found_past_parentless_entry(spark, ref_table):
    """The exact ADVICE r9 shape: a keyed ref commit followed by a
    PARENT-LESS (pre-r10 style) entry on the same lineage — the walk
    must fall back to the implicit-parent rule and find the key."""
    from apache_iceberg_spark.catalog.snapshots import (
        _LOG,
        _needed_dirs,
        _resolve,
        commit_append_ref,
        create_branch,
        list_snapshots,
    )

    create_branch(ref_table, "main_pin")
    v_keyed = commit_append_ref(
        spark.range(10, 12).select(F.col("id")),
        ref_table,
        branch="main",
        idempotency_key="batch-9",
    )
    # Hand-craft a legacy parent-less append entry on top.
    log = list_snapshots(ref_table)
    head = log[-1]
    by_v = {x["version"]: x for x in log}
    d = os.path.join(ref_table, f"d{head['version'] + 1}")
    spark.range(90, 92).select(F.col("id")).write.parquet(d)
    log.append(
        {
            "version": head["version"] + 1,
            "ts_ms": 5000,
            "paths": _needed_dirs(*_resolve(by_v, head["version"])) + [d],
        }
    )
    with open(os.path.join(ref_table, _LOG), "w") as f:
        json.dump(log, f)
    from apache_iceberg_spark.catalog.snapshots import _read_refs, _write_refs

    refs = _read_refs(ref_table)
    refs["branches"]["main"] = log[-1]["version"]
    _write_refs(ref_table, refs)
    n_before = len(list_snapshots(ref_table))
    retry_v = commit_append_ref(
        spark.range(10, 12).select(F.col("id")),
        ref_table,
        branch="main",
        idempotency_key="batch-9",
    )
    assert retry_v == v_keyed
    assert len(list_snapshots(ref_table)) == n_before


# ---------------------------------------------------------------------------
# ADVICE r9: partition layout recorded at commit, validated on append


def test_partition_layout_mismatch_raises_at_commit_time(spark, tmp_path):
    from apache_iceberg_spark.catalog.snapshots import (
        commit_append,
        commit_snapshot,
    )

    table = fresh_dir(tmp_path, "r10_layout") + "/t"
    df = spark.range(10).select(
        F.col("id"), (F.col("id") % 3).alias("bucket")
    )
    commit_snapshot(df, table, partition_by=["bucket"])
    with pytest.raises(ValueError, match="partition_by"):
        commit_append(df, table)  # unpartitioned append onto partitioned
    with pytest.raises(ValueError, match="partition_by"):
        commit_append(df, table, partition_by=["id"])  # different column
    commit_append(df, table, partition_by=["bucket"])  # matching: fine
    # overwrite may CHANGE the layout...
    commit_snapshot(df, table)
    # ...and appends then validate against the new one
    with pytest.raises(ValueError, match="partition_by"):
        commit_append(df, table, partition_by=["bucket"])
    commit_append(df, table)


def test_rollback_advances_pinned_main(spark, ref_table):
    from apache_iceberg_spark.catalog.snapshots import (
        commit_append_ref,
        create_branch,
        list_refs,
        rollback_to,
    )

    create_branch(ref_table, "pin")  # pins main in _refs.json
    commit_append_ref(
        spark.range(10, 12).select(F.col("id")), ref_table, branch="main"
    )
    v = rollback_to(ref_table, 1)
    assert list_refs(ref_table)["branches"]["main"] == v
    assert _ids(spark, ref_table, "main") == list(range(10))


# ---------------------------------------------------------------------------
# Ask #7: a27's quantization gate is code, not advice


def test_a27_gate_quantizes_unbounded_support(spark):
    """A >2M-distinct-value support must take the quantized branch:
    the distinct-value frame entering the SinglePartition cumsum is
    bounded at A25_GRID cells, and no row mass is lost."""
    from apache_iceberg_spark.operators.analytics import (
        A25_GRID,
        A25_MAX_SUPPORT,
        _a27_bound_support,
    )

    n = A25_MAX_SUPPORT + 500_000  # 2.5M distinct days
    per_v = spark.range(n).select(
        F.expr("date_add(DATE'0001-01-01', CAST(id AS INT))").alias("v"),
        F.lit(1).cast("long").alias("cnt"),
    )
    out, step = _a27_bound_support(per_v)
    assert step > 1
    agg = out.agg(
        F.count(F.lit(1)).alias("ndv"), F.sum("cnt").alias("mass")
    ).collect()[0]
    assert agg["ndv"] <= A25_GRID
    assert agg["mass"] == n  # quantization moves mass, never drops it


def test_a27_gate_exact_branch_untouched(spark):
    from apache_iceberg_spark.operators.analytics import _a27_bound_support

    per_v = spark.range(100).select(
        F.expr("date_add(DATE'2020-01-01', CAST(id AS INT))").alias("v"),
        (F.col("id") + 1).alias("cnt"),
    )
    out, step = _a27_bound_support(per_v)
    assert step == 1
    assert out.count() == 100


# ---------------------------------------------------------------------------
# ADVICE r9: pp17 fails loud on an empty target domain


def test_pp17_raises_on_zero_target_tokens(spark, tmp_path):
    """A corpus with no target-domain tokens must raise a descriptive
    ValueError, not ZeroDivisionError."""
    import apache_iceberg_spark.operators.pipeline as pl

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    # documents whose sources are all OUTSIDE PP17_TARGET
    docs = spark.createDataFrame(
        [(i, "untargeted words here", "web", "en") for i in range(5)],
        "doc_id long, text string, source string, lang string",
    )
    docs.write.parquet(os.path.join(sf, "documents.parquet"))
    with pytest.raises(ValueError, match="no tokens from the target"):
        pl.pp17_importance_resampling(spark, sf)


# ---------------------------------------------------------------------------
# Ask #2: workspace-level multi-table atomic commits


def test_ws_commit_has_no_torn_publish_window(spark, tmp_path):
    """The per-table layout's torn window: two single-table commits give
    readers a version where table A moved and table B did not. The
    workspace commit eliminates it — EVERY workspace version resolves a
    consistent pair."""
    from apache_iceberg_spark.catalog.workspace import (
        ws_commit,
        ws_list_versions,
        ws_read,
    )

    ws = fresh_dir(tmp_path, "r10_ws")
    a1 = spark.range(10).select(F.col("id"))
    b1 = spark.range(100, 110).select(F.col("id"))
    a2 = spark.range(10, 20).select(F.col("id"))
    b2 = spark.range(110, 120).select(F.col("id"))
    ws_commit(ws, {"a": a1, "b": b1})          # v1: consistent pair
    ws_commit(ws, {"a": a2, "b": b2})          # v2: consistent pair
    # Invariant: at EVERY version, a and b have moved in lockstep.
    for e in ws_list_versions(ws):
        v = e["version"]
        n_a = ws_read(spark, ws, "a", version=v).count()
        n_b = ws_read(spark, ws, "b", version=v).count()
        assert n_a == n_b, f"torn publish visible at v{v}"
    # Contrast: the per-table snapshot layout HAS the torn state — after
    # committing a's second batch but before b's, a reader sees 20/10.
    from apache_iceberg_spark.catalog.snapshots import (
        commit_append,
        commit_snapshot,
        read_snapshot_dirs,
    )

    root = fresh_dir(tmp_path, "r10_torn")
    ta, tb = root + "/a", root + "/b"
    commit_snapshot(a1, ta)
    commit_snapshot(b1, tb)
    commit_append(a2, ta)  # <- the torn window: a moved, b did not
    assert read_snapshot_dirs(spark, ta).count() == 20
    assert read_snapshot_dirs(spark, tb).count() == 10


def test_ws_tag_reads_are_cross_table_consistent(spark, tmp_path):
    from apache_iceberg_spark.catalog.workspace import (
        ws_commit,
        ws_create_tag,
        ws_read,
    )

    ws = fresh_dir(tmp_path, "r10_wstag")
    ws_commit(
        ws,
        {
            "a": spark.range(5).select(F.col("id")),
            "b": spark.range(50, 55).select(F.col("id")),
        },
    )
    ws_create_tag(ws, "publish")
    ws_commit(ws, {"b": spark.range(55, 60).select(F.col("id"))})
    # tag: both tables at v1; latest: only b advanced
    assert ws_read(spark, ws, "a", ref="publish").count() == 5
    assert ws_read(spark, ws, "b", ref="publish").count() == 5
    assert ws_read(spark, ws, "a").count() == 5
    assert ws_read(spark, ws, "b").count() == 10


def test_ws_commit_cas_conflict(spark, tmp_path):
    from apache_iceberg_spark.catalog.snapshots import CommitConflict
    from apache_iceberg_spark.catalog.workspace import ws_commit

    ws = fresh_dir(tmp_path, "r10_wscas")
    ws_commit(ws, {"a": spark.range(3).select(F.col("id"))})
    racer = spark.range(10, 13).select(F.col("id"))
    loser = spark.range(20, 23).select(F.col("id"))

    def race():
        ws_commit(ws, {"a": racer})

    with pytest.raises(CommitConflict, match="head moved"):
        ws_commit(ws, {"a": _RacingDF(loser, race)})


def test_ws_overwrite_and_missing_table(spark, tmp_path):
    from apache_iceberg_spark.catalog.workspace import (
        ws_commit,
        ws_list_tables,
        ws_read,
    )

    ws = fresh_dir(tmp_path, "r10_wsow")
    ws_commit(ws, {"a": spark.range(5).select(F.col("id"))})
    ws_commit(
        ws, {"a": spark.range(100, 102).select(F.col("id"))},
        mode="overwrite",
    )
    assert ws_read(spark, ws, "a").count() == 2
    assert ws_read(spark, ws, "a", version=1).count() == 5
    assert ws_list_tables(ws) == ["a"]
    with pytest.raises(ValueError, match="does not exist"):
        ws_read(spark, ws, "nope")


# ---------------------------------------------------------------------------
# Round-10 new operators: independent-model checks (oracle could be blind)


def test_ws_commit_idempotency_key(spark, tmp_path):
    from apache_iceberg_spark.catalog.workspace import (
        ws_commit,
        ws_list_versions,
        ws_read,
    )

    ws = fresh_dir(tmp_path, "r10_wskey")
    df = spark.range(5).select(F.col("id"))
    v1 = ws_commit(ws, {"a": df}, idempotency_key="batch-0")
    v_retry = ws_commit(
        ws, {"a": spark.range(99).select(F.col("id"))},
        idempotency_key="batch-0",
    )
    assert v_retry == v1
    assert len(ws_list_versions(ws)) == 1
    assert ws_read(spark, ws, "a").count() == 5  # retry wrote nothing


def test_st20_every_version_pairwise_consistent(spark):
    """After the stream, EVERY workspace version's agg table must equal
    a recompute from its raw table — the atomicity invariant, checked
    at every intermediate publish, not just the head."""
    from apache_iceberg_spark.catalog.workspace import (
        ws_list_versions,
        ws_read,
    )
    from apache_iceberg_spark.streaming.events import _st20_run
    from tests.conftest import SF_DIR

    ws, result = _st20_run(spark, SF_DIR)
    rows = result.collect()
    assert rows and all(r["agg_matches_raw"] for r in rows)
    versions = [e["version"] for e in ws_list_versions(ws)]
    assert len(versions) >= 2, "expected a multi-batch run"
    for v in versions:
        raw_n = ws_read(spark, ws, "raw", version=v).count()
        agg_n = (
            ws_read(spark, ws, "agg", version=v)
            .agg(F.sum("n_events").alias("s"))
            .collect()[0]["s"]
        )
        assert raw_n == agg_n, f"torn raw/agg pair at workspace v{v}"


def test_ts19_matches_numpy(spark):
    """ACF cross-checked against an independent numpy implementation on
    the actual hourly series (the oracle shares the formula text, so it
    could be blind to a wrong formula — numpy is not)."""
    import numpy as np

    from apache_iceberg_spark.operators.timeseries import (
        TS19_LAGS,
        ts19_autocorrelation,
    )
    from apache_iceberg_spark.tables import load_table
    from tests.conftest import SF_DIR

    e = load_table(spark, SF_DIR, "events")
    hourly = (
        e.groupBy(F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(F.count(F.lit(1)).alias("x"))
        .orderBy("h")
        .collect()
    )
    # complete spine (fill gaps with 0)
    h0 = hourly[0]["h"]
    idx = {int((r["h"] - h0).total_seconds() // 3600): r["x"] for r in hourly}
    n = max(idx) + 1
    x = np.array([idx.get(i, 0) for i in range(n)], dtype=float)
    mu = x.mean()
    den = ((x - mu) ** 2).sum()
    got = {
        r["lag"]: (r["n_pairs"], r["acf"])
        for r in ts19_autocorrelation(spark, SF_DIR).collect()
    }
    for L in TS19_LAGS:
        want = ((x[:-L] - mu) * (x[L:] - mu)).sum() / den
        n_pairs, acf = got[L]
        assert n_pairs == n - L
        assert abs(acf - want) < 1e-9, (L, acf, want)
    # sanity: daily seasonality shows at lag 24 if present; at minimum
    # the estimator is bounded
    assert all(abs(v[1]) <= 1.0 + 1e-12 for v in got.values())


def test_a29_matches_numpy(spark):
    import numpy as np

    from apache_iceberg_spark.operators.analytics import (
        a29_chi_square_independence,
    )

    rows = a29_chi_square_independence(
        spark, "/root/testdata/sf0.001"
    ).collect()
    pris = sorted({r["o_orderpriority"] for r in rows})
    sts = sorted({r["o_orderstatus"] for r in rows})
    obs = np.zeros((len(pris), len(sts)))
    for r in rows:
        obs[pris.index(r["o_orderpriority"]), sts.index(r["o_orderstatus"])] \
            = r["observed"]
    exp = obs.sum(axis=1, keepdims=True) * obs.sum(axis=0) / obs.sum()
    chi2 = ((obs - exp) ** 2 / exp)
    for r in rows:
        i, j = pris.index(r["o_orderpriority"]), sts.index(r["o_orderstatus"])
        assert abs(r["expected"] - exp[i, j]) < 1e-9
        assert abs(r["chi2_term"] - chi2[i, j]) < 1e-9
        assert r["row_total"] == obs[i].sum()
        assert r["col_total"] == obs[:, j].sum()


def test_g9_jaccard_properties(spark):
    """Exact-integer invariants on the real graph: 0 < jaccard <= 1e6,
    intersection <= min(deg), union >= max(deg), and scored pairs are
    non-adjacent."""
    from apache_iceberg_spark.operators.graph import (
        _knn_edges,
        g9_neighborhood_jaccard,
    )

    sf = "/root/testdata/sf0.001"
    out = g9_neighborhood_jaccard(spark, sf)
    edges = {
        (r["u"], r["v"]) for r in _knn_edges(spark, sf).collect()
    }
    deg: dict[int, int] = {}
    for u, v in edges:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    rows = out.collect()
    spark.catalog.clearCache()  # _knn_edges plan-cache (two calls above)
    assert rows
    for r in rows:
        assert (r["u"], r["v"]) not in edges
        assert 0 < r["jaccard_ppm"] <= 1_000_000
        assert r["n_common"] <= min(deg[r["u"]], deg[r["v"]])
        assert r["union_deg"] == deg[r["u"]] + deg[r["v"]] - r["n_common"]
        assert r["jaccard_ppm"] == r["n_common"] * 1_000_000 // r["union_deg"]


def test_concurrent_branch_committers_keep_both_pointers(spark, ref_table):
    """Two writers hammering DIFFERENT branches with retry-on-conflict:
    every commit must land, and BOTH branch pointers must end at their
    writer's last committed version — the refs-clobber interleaving the
    round-10 self-review found (refs written outside the commit lock
    from a plan-time snapshot) would lose one pointer's advance."""
    import threading

    from apache_iceberg_spark.catalog.snapshots import (
        CommitConflict,
        commit_append_ref,
        create_branch,
        list_refs,
        list_snapshots,
    )

    create_branch(ref_table, "b1")
    create_branch(ref_table, "b2")
    last: dict[str, int] = {}
    errors: list[Exception] = []
    n_each = 3

    def writer(branch: str, lo: int) -> None:
        try:
            for i in range(n_each):
                df = spark.range(lo + i, lo + i + 1).select(F.col("id"))
                while True:
                    try:
                        last[branch] = commit_append_ref(
                            df, ref_table, branch=branch
                        )
                        break
                    except CommitConflict:
                        continue  # re-plan and retry, the documented shape
        except Exception as exc:  # pragma: no cover - surfaced below
            errors.append(exc)

    t1 = threading.Thread(target=writer, args=("b1", 100))
    t2 = threading.Thread(target=writer, args=("b2", 200))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errors, errors
    log = list_snapshots(ref_table)
    assert len(log) == 1 + 2 * n_each  # every commit landed exactly once
    refs = list_refs(ref_table)["branches"]
    assert refs["b1"] == last["b1"]
    assert refs["b2"] == last["b2"]
    assert _ids(spark, ref_table, "b1") == list(range(10)) + list(
        range(100, 100 + n_each)
    )
    assert _ids(spark, ref_table, "b2") == list(range(10)) + list(
        range(200, 200 + n_each)
    )


def test_ts20_matches_numpy(spark):
    import numpy as np

    from apache_iceberg_spark.operators.timeseries import (
        TS20_LAGS,
        TS20_X,
        TS20_Y,
        ts20_cross_correlation,
    )
    from apache_iceberg_spark.tables import load_table
    from tests.conftest import SF_DIR

    e = load_table(spark, SF_DIR, "events")
    hourly = (
        e.groupBy(F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(
            F.sum((F.col("event_type") == TS20_X).cast("long")).alias("x"),
            F.sum((F.col("event_type") == TS20_Y).cast("long")).alias("y"),
        )
        .orderBy("h")
        .collect()
    )
    h0 = hourly[0]["h"]
    idx = {
        int((r["h"] - h0).total_seconds() // 3600): (r["x"], r["y"])
        for r in hourly
    }
    n = max(idx) + 1
    x = np.array([idx.get(i, (0, 0))[0] for i in range(n)], dtype=float)
    y = np.array([idx.get(i, (0, 0))[1] for i in range(n)], dtype=float)
    mx, my = x.mean(), y.mean()
    den = np.sqrt(((x - mx) ** 2).sum() * ((y - my) ** 2).sum())
    got = {
        r["lag"]: (r["n_pairs"], r["ccf"])
        for r in ts20_cross_correlation(spark, SF_DIR).collect()
    }
    for L in TS20_LAGS:
        if L >= 0:
            want = ((x[: n - L] - mx) * (y[L:] - my)).sum() / den
        else:
            want = ((x[-L:] - mx) * (y[: n + L] - my)).sum() / den
        n_pairs, ccf = got[L]
        assert n_pairs == n - abs(L)
        assert abs(ccf - want) < 1e-9, (L, ccf, want)
    # lag 0 equals the plain Pearson correlation of the two series
    r0 = np.corrcoef(x, y)[0, 1]
    # (full-series normalization == Pearson exactly at lag 0)
    assert abs(got[0][1] - r0) < 1e-9


def test_a30_matches_numpy(spark):
    import numpy as np

    from apache_iceberg_spark.operators.analytics import (
        a29_chi_square_independence,
        a30_cramers_v,
    )

    sf = "/root/testdata/sf0.001"
    cells = a29_chi_square_independence(spark, sf).collect()
    chi2_float = sum(r["chi2_term"] for r in cells)
    n = sum(r["observed"] for r in cells)
    r_cat = len({r["o_orderpriority"] for r in cells})
    c_cat = len({r["o_orderstatus"] for r in cells})
    out = a30_cramers_v(spark, sf).collect()[0]
    assert out["n"] == n
    assert out["n_cat_a"] == r_cat and out["n_cat_b"] == c_cat
    assert out["dof_min"] == min(r_cat - 1, c_cat - 1)
    # integer micro-unit chi2 within per-cell truncation of the float one
    assert abs(out["chi2_micro"] / 1e6 - chi2_float) < len(cells) * n / 1e6
    want_v = np.sqrt(chi2_float / (n * min(r_cat - 1, c_cat - 1)))
    assert abs(out["cramers_v"] - want_v) < 1e-4
    assert 0.0 <= out["cramers_v"] <= 1.0


# ---------------------------------------------------------------------------
# Workspace branches (m36): isolation, reject path, diverged merge


def test_ws_branch_isolates_and_ff_publishes_all_tables(spark, tmp_path):
    from apache_iceberg_spark.catalog.workspace import (
        ws_commit,
        ws_create_branch,
        ws_list_versions,
        ws_merge_branch,
        ws_read,
        ws_resolve_ref,
    )

    ws = fresh_dir(tmp_path, "r10_wsbr")
    ws_commit(
        ws,
        {
            "a": spark.range(5).select(F.col("id")),
            "b": spark.range(50, 55).select(F.col("id")),
        },
    )
    ws_create_branch(ws, "staging")
    v2 = ws_commit(
        ws,
        {
            "a": spark.range(5, 10).select(F.col("id")),
            "b": spark.range(55, 60).select(F.col("id")),
        },
        branch="staging",
    )
    # isolation: main sees neither staged table move
    assert ws_read(spark, ws, "a").count() == 5
    assert ws_read(spark, ws, "b").count() == 5
    assert ws_read(spark, ws, "a", ref="staging").count() == 10
    n_log = len(ws_list_versions(ws))
    v = ws_merge_branch(ws, "staging")
    # FF = pure pointer advance: no new commit, both tables go live
    assert v == v2
    assert len(ws_list_versions(ws)) == n_log
    assert ws_resolve_ref(ws, "main") == v2
    assert ws_read(spark, ws, "a").count() == 10
    assert ws_read(spark, ws, "b").count() == 10


def test_ws_branch_reject_path_frees_all_staged_tables(spark, tmp_path):
    from apache_iceberg_spark.catalog.workspace import (
        ws_commit,
        ws_create_branch,
        ws_delete_branch,
        ws_read,
        ws_resolve_ref,
    )

    ws = fresh_dir(tmp_path, "r10_wsrej")
    v1 = ws_commit(ws, {"a": spark.range(5).select(F.col("id"))})
    ws_create_branch(ws, "staging")
    # poisoned batch staged across two tables
    ws_commit(
        ws,
        {
            "a": spark.range(100).select(F.col("id")),
            "b": spark.range(3).select(F.col("id")),
        },
        branch="staging",
    )
    ws_delete_branch(ws, "staging")  # reject: ONE ref deletion
    assert ws_resolve_ref(ws, "main") == v1
    assert ws_read(spark, ws, "a").count() == 5
    with pytest.raises(ValueError, match="does not exist"):
        ws_read(spark, ws, "b")  # never existed on main


def test_ws_diverged_merge_unions_appends_and_rejects_rewrites(spark, tmp_path):
    from apache_iceberg_spark.catalog.workspace import (
        ws_commit,
        ws_create_branch,
        ws_merge_branch,
        ws_read,
    )

    ws = fresh_dir(tmp_path, "r10_wsdiv")
    ws_commit(
        ws,
        {
            "a": spark.range(5).select(F.col("id")),
            "b": spark.range(50, 55).select(F.col("id")),
        },
    )
    ws_create_branch(ws, "etl")
    ws_commit(ws, {"a": spark.range(5, 8).select(F.col("id"))},
              branch="etl")
    ws_commit(ws, {"b": spark.range(55, 58).select(F.col("id"))},
              branch="main")  # main moves too -> diverged
    ws_merge_branch(ws, "etl")
    got_a = sorted(r["id"] for r in ws_read(spark, ws, "a").collect())
    got_b = sorted(r["id"] for r in ws_read(spark, ws, "b").collect())
    assert got_a == list(range(8))
    assert got_b == list(range(50, 58))
    # rewrite conflict: a second branch OVERWRITES a table main appended to
    ws_create_branch(ws, "rw")
    ws_commit(ws, {"a": spark.range(2).select(F.col("id"))},
              branch="rw", mode="overwrite")
    ws_commit(ws, {"a": spark.range(8, 9).select(F.col("id"))},
              branch="main")
    with pytest.raises(ValueError, match="rewrote files"):
        ws_merge_branch(ws, "rw")


def test_a31_matches_numpy(spark):
    from apache_iceberg_spark.operators.analytics import (
        A25_SPLIT_DEN,
        A25_SPLIT_NUM,
        a31_tv_distance,
    )
    from apache_iceberg_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    rows = load_table(spark, sf, "events").select(
        "event_id", "event_type"
    ).collect()
    t0 = max(r["event_id"] for r in rows) * A25_SPLIT_NUM // A25_SPLIT_DEN
    ref: dict[str, int] = {}
    new: dict[str, int] = {}
    for r in rows:
        d = ref if r["event_id"] < t0 else new
        d[r["event_type"]] = d.get(r["event_type"], 0) + 1
    n_ref, n_new = sum(ref.values()), sum(new.values())
    cats = set(ref) | set(new)
    want = 0.5 * sum(
        abs(ref.get(c, 0) / n_ref - new.get(c, 0) / n_new) for c in cats
    )
    out = a31_tv_distance(spark, sf).collect()[0]
    assert out["n_ref"] == n_ref and out["n_new"] == n_new
    assert out["n_categories"] == len(cats)
    assert abs(out["tv_distance"] - want) < 1e-12
    assert 0.0 <= out["tv_distance"] <= 1.0


def test_ts21_pacf_matches_numpy_yule_walker(spark):
    """PACF cross-checked by solving each order-k Yule-Walker system
    with numpy.linalg (a DIFFERENT algorithm from the Durbin-Levinson
    recursion both engines share — if the recursion were wrong, the
    shared-text oracle would be blind but this is not)."""
    import numpy as np

    from apache_iceberg_spark.operators.timeseries import (
        TS21_K,
        _ts19_acf_frame,
        ts21_pacf,
    )
    from tests.conftest import SF_DIR

    acf_rows = _ts19_acf_frame(
        spark, SF_DIR, tuple(range(1, TS21_K + 1))
    ).collect()
    r = {row["lag"]: row["acf"] for row in acf_rows}
    rho = np.array([1.0] + [r[k] for k in range(1, TS21_K + 1)])
    got = {row["lag"]: row["pacf"] for row in ts21_pacf(spark, SF_DIR).collect()}
    assert set(got) == set(range(1, TS21_K + 1))
    for k in range(1, TS21_K + 1):
        # Toeplitz system R phi = rho[1..k]
        R = np.array([[rho[abs(i - j)] for j in range(k)] for i in range(k)])
        phi = np.linalg.solve(R, rho[1 : k + 1])
        assert abs(got[k] - phi[-1]) < 1e-9, (k, got[k], phi[-1])


def test_g10_matches_numpy(spark):
    import numpy as np

    from apache_iceberg_spark.operators.graph import (
        _knn_edges,
        g10_degree_assortativity,
    )

    sf = "/root/testdata/sf0.001"
    edges = [(r["u"], r["v"]) for r in _knn_edges(spark, sf).collect()]
    out = g10_degree_assortativity(spark, sf).collect()[0]
    spark.catalog.clearCache()  # _knn_edges plan-cache
    deg: dict[int, int] = {}
    for u, v in edges:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    xs, ys = [], []
    for u, v in edges:
        xs += [deg[u], deg[v]]
        ys += [deg[v], deg[u]]
    assert out["n_directed_edges"] == 2 * len(edges)
    want = np.corrcoef(np.array(xs, float), np.array(ys, float))[0, 1]
    assert abs(out["assortativity"] - want) < 1e-9
    assert -1.0 <= out["assortativity"] <= 1.0


def test_ts22_matches_numpy_median_of_slopes(spark):
    from apache_iceberg_spark.operators.timeseries import (
        TS22_MICRO,
        ts22_theil_sen_trend,
    )
    from apache_iceberg_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    rows = (
        load_table(spark, sf, "events")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(F.count(F.lit(1)).alias("x"))
        .orderBy("h")
        .collect()
    )
    h0 = rows[0]["h"]
    idx = {int((r["h"] - h0).total_seconds() // 3600): r["x"] for r in rows}
    n = max(idx) + 1
    x = [idx.get(i, 0) for i in range(n)]
    slopes = sorted(
        (x[j] - x[i]) * TS22_MICRO // (j - i)
        for i in range(n)
        for j in range(i + 1, n)
    )
    np_ = len(slopes)
    want = (slopes[(np_ + 1) // 2 - 1] + slopes[(np_ + 2) // 2 - 1]) // 2
    out = ts22_theil_sen_trend(spark, sf).collect()[0]
    assert out["n_points"] == n
    assert out["n_pairs"] == np_
    assert out["slope_micro"] == want


def test_ws_remove_orphans_reclaims_cas_loser_debris(spark, tmp_path):
    """The CAS loser's uniquely-named data dirs are exactly what
    ws_remove_orphans reclaims — and referenced dirs survive."""
    import glob as _glob

    from apache_iceberg_spark.catalog.snapshots import CommitConflict
    from apache_iceberg_spark.catalog.workspace import (
        ws_commit,
        ws_read,
        ws_remove_orphans,
    )

    ws = fresh_dir(tmp_path, "r10_wsorph")
    ws_commit(ws, {"a": spark.range(5).select(F.col("id"))})
    racer = spark.range(10, 13).select(F.col("id"))
    loser = spark.range(20, 23).select(F.col("id"))

    def race():
        ws_commit(ws, {"a": racer})

    with pytest.raises(CommitConflict):
        ws_commit(ws, {"a": _RacingDF(loser, race)})
    # the loser's dir exists on disk but no log entry references it
    assert len(_glob.glob(os.path.join(ws, "a", "w*"))) == 3
    removed = ws_remove_orphans(ws)
    assert len(removed) == 1
    assert len(_glob.glob(os.path.join(ws, "a", "w*"))) == 2
    got = sorted(r["id"] for r in ws_read(spark, ws, "a").collect())
    assert got == list(range(5)) + [10, 11, 12]
    # safety window: a fresh orphan survives a past-cutoff sweep
    os.makedirs(os.path.join(ws, "a", "w9-deadbeef"))
    assert ws_remove_orphans(ws, older_than_ms=1000) == []


def test_ws_expiry_protects_refs_and_materializes(spark, tmp_path):
    from apache_iceberg_spark.catalog.workspace import (
        ws_commit,
        ws_create_branch,
        ws_create_tag,
        ws_delete_branch,
        ws_expire_versions,
        ws_list_versions,
        ws_read,
        ws_remove_orphans,
    )

    ws = fresh_dir(tmp_path, "r10_wsgc")
    ws_commit(
        ws,
        {"a": spark.range(5).select(F.col("id")),
         "b": spark.range(50, 55).select(F.col("id"))},
        ts_ms=1000,
    )
    ws_create_branch(ws, "dead")
    v2 = ws_commit(
        ws, {"a": spark.range(5, 8).select(F.col("id"))},
        branch="dead", ts_ms=1100,
    )
    ws_create_tag(ws, "audit", version=v2)
    ws_delete_branch(ws, "dead")
    ws_create_branch(ws, "dead2")
    ws_commit(
        ws, {"b": spark.range(90, 95).select(F.col("id"))},
        branch="dead2", ts_ms=1200,
    )
    ws_delete_branch(ws, "dead2")
    ws_commit(
        ws, {"b": spark.range(55, 57).select(F.col("id"))},
        branch="main", ts_ms=1300,
    )
    expired = ws_expire_versions(ws, older_than_ms=10_000, keep_last=1)
    assert expired == [3]  # only the untagged dead lineage
    # the tagged CROSS-TABLE state is intact — both tables, consistent
    assert ws_read(spark, ws, "a", ref="audit").count() == 8
    assert ws_read(spark, ws, "b", ref="audit").count() == 5
    assert ws_read(spark, ws, "a").count() == 5
    assert ws_read(spark, ws, "b").count() == 7
    assert ws_remove_orphans(ws) == []  # everything left is referenced
    # Materialization case: a RECENT commit (retained by timestamp) on
    # a lineage whose older ancestor becomes expirable — branch from
    # the tag, commit with a fresh ts, drop both refs: v2 (old,
    # unreachable) expires, v5 (recent, unreachable) is retained and
    # must be materialized to stay readable. NOTE: v1 is main's
    # ancestry, hence protected FOREVER while main descends from it —
    # the Nessie unreachable-commit rule.
    import apache_iceberg_spark.catalog.snapshots as S

    ws_create_branch(ws, "tmp", from_ref="audit")
    v5 = ws_commit(
        ws, {"a": spark.range(200, 202).select(F.col("id"))},
        branch="tmp", ts_ms=50_000,
    )
    ws_delete_branch(ws, "tmp")
    with S._log_lock(ws):
        refs = S._read_refs(ws)
        del refs["tags"]["audit"]
        S._write_refs(ws, refs)
    expired2 = ws_expire_versions(ws, older_than_ms=10_000, keep_last=1)
    assert expired2 == [2]  # v1 stays: main's ancestry is ref-reachable
    (e5,) = [e for e in ws_list_versions(ws) if e["version"] == v5]
    assert all("set" in t for t in e5["tables"].values())
    assert "parent" not in e5
    # the materialized version reads whole: v1 base + v2's (deleted?)
    # NO — v2's directory survives because v5's materialized set still
    # references it (shared-file discipline)
    assert ws_read(spark, ws, "a", version=v5).count() == 10
    assert ws_read(spark, ws, "a").count() == 5
    assert ws_read(spark, ws, "b").count() == 7


def test_w14_matches_numpy(spark):
    import numpy as np

    from apache_iceberg_spark.operators.functions_ext import (
        W14_FRAME,
        w14_rolling_regression,
    )
    from apache_iceberg_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    rows = (
        load_table(spark, sf, "events")
        .select("user_id", "event_id", "ts", "value")
        .collect()
    )
    by_user: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["user_id"], r["ts"], r["event_id"])):
        by_user.setdefault(r["user_id"], []).append(r)
    got = {
        (r["user_id"], r["event_id"]): (r["n_in_frame"], r["slope"])
        for r in w14_rolling_regression(spark, sf).collect()
    }
    checked = 0
    for uid, evs in by_user.items():
        ys = [round(r["value"] * 100) for r in evs]
        for i, r in enumerate(evs):
            lo = max(0, i - (W14_FRAME - 1))
            x = np.arange(lo + 1, i + 2, dtype=float)
            y = np.array(ys[lo : i + 1], dtype=float)
            k, slope = got[(uid, r["event_id"])]
            assert k == len(x)
            if len(x) == 1:
                assert slope is None
            else:
                want = np.polyfit(x, y, 1)[0]
                assert abs(slope - want) < 1e-6, (uid, r["event_id"])
            checked += 1
    assert checked == len(rows)


def test_ws_partition_layout_validated(spark, tmp_path):
    from apache_iceberg_spark.catalog.workspace import ws_commit, ws_read

    ws = fresh_dir(tmp_path, "r10_wslay")
    df = spark.range(10).select(
        F.col("id"), (F.col("id") % 3).alias("bucket")
    )
    ws_commit(ws, {"a": df}, partition_by={"a": ["bucket"]})
    with pytest.raises(ValueError, match="partition_by"):
        ws_commit(ws, {"a": df})  # unpartitioned append onto partitioned
    with pytest.raises(ValueError, match="partition_by"):
        ws_commit(ws, {"a": df}, partition_by={"a": ["id"]})
    ws_commit(ws, {"a": df}, partition_by={"a": ["bucket"]})  # matches
    assert ws_read(spark, ws, "a").count() == 20
    # overwrite may change the layout, then the new one is enforced
    ws_commit(ws, {"a": df}, mode="overwrite")
    with pytest.raises(ValueError, match="partition_by"):
        ws_commit(ws, {"a": df}, partition_by={"a": ["bucket"]})
    ws_commit(ws, {"a": df})


def test_a33_matches_numpy(spark):
    import numpy as np

    from apache_iceberg_spark.operators.analytics import a33_anova_f
    from apache_iceberg_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    rows = (
        load_table(spark, sf, "orders")
        .select("o_orderpriority", "o_totalprice")
        .collect()
    )
    groups: dict[str, list[int]] = {}
    for r in rows:
        groups.setdefault(r["o_orderpriority"], []).append(
            round(r["o_totalprice"] * 100)
        )
    all_v = np.array([v for g in groups.values() for v in g], dtype=float)
    gm = all_v.mean()
    ssb = sum(len(g) * (np.mean(g) - gm) ** 2 for g in groups.values())
    ssw = sum(((np.array(g, float) - np.mean(g)) ** 2).sum()
              for g in groups.values())
    k, n = len(groups), len(all_v)
    f_want = (ssb / (k - 1)) / (ssw / (n - k))
    out = a33_anova_f(spark, sf).collect()[0]
    assert out["k"] == k and out["n"] == n
    # the q/r split truncates <= 1 cent^2 per group
    assert abs(out["ssb"] - ssb) <= k + 1
    assert abs(out["ssw"] - ssw) <= k + 1
    assert abs(out["f_stat"] - f_want) < 1e-6 * max(1.0, f_want)
    assert 0.0 <= out["eta_squared"] <= 1.0
    assert abs(out["eta_squared"] - ssb / (ssb + ssw)) < 1e-9


def test_j8_matches_python_nearest(spark):
    """Independent nearest-neighbor model: brute-force per event over
    the user's orders, ties to backward then ts3's key tiebreaks."""
    from apache_iceberg_spark.operators.functions_ext import (
        j8_nearest_asof_join,
    )
    from apache_iceberg_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    orders = (
        load_table(spark, sf, "orders")
        .select("o_custkey", "o_orderkey", "o_orderdate")
        .collect()
    )
    events = (
        load_table(spark, sf, "events")
        .select("user_id", "event_id", "ts")
        .collect()
    )
    by_user: dict[int, list] = {}
    for r in orders:
        by_user.setdefault(r["o_custkey"], []).append(r)
    got = {
        r["event_id"]: (r["nearest_orderkey"], r["direction"], r["dt_us"])
        for r in j8_nearest_asof_join(spark, sf).collect()
    }
    n_checked = 0
    for ev in events:
        cands = by_user.get(ev["user_id"])
        if not cands:
            assert ev["event_id"] not in got
            continue
        t = ev["ts"]
        back = [o for o in cands if o["o_orderdate"] <= t]
        fwd = [o for o in cands if o["o_orderdate"] > t]
        b = max(back, key=lambda o: (o["o_orderdate"], o["o_orderkey"])) \
            if back else None
        f_ = min(fwd, key=lambda o: (o["o_orderdate"], o["o_orderkey"])) \
            if fwd else None

        def us(dt):
            return int(dt.total_seconds() * 1_000_000)

        if f_ is None or (
            b is not None and us(t - b["o_orderdate"])
            <= us(f_["o_orderdate"] - t)
        ):
            want = (b["o_orderkey"], "backward", us(t - b["o_orderdate"]))
        else:
            want = (
                f_["o_orderkey"], "forward", us(f_["o_orderdate"] - t)
            )
        assert got[ev["event_id"]] == want, (ev["event_id"],
                                             got[ev["event_id"]], want)
        n_checked += 1
    assert n_checked > 0


def test_tx23_matches_python(spark):
    import re

    from apache_iceberg_spark.operators.text import tx23_readability
    from apache_iceberg_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents").select(
        "doc_id", "text"
    ).collect()
    got = {
        r["doc_id"]: (r["n_words"], r["n_sentences"], r["n_syllables"],
                      r["fk_grade"])
        for r in tx23_readability(spark, sf).collect()
    }
    n_checked = 0
    for d in docs:
        text = d["text"]
        words = len(re.findall(r"[^ \t\n]+", text.strip()))
        if words == 0:
            assert d["doc_id"] not in got
            continue
        sentences = max(len(re.findall(r"[.!?]+", text)), 1)
        syll = max(len(re.findall(r"[aeiouy]+", text.lower())), words)
        fk = 0.39 * (words / sentences) + 11.8 * (syll / words) - 15.59
        w, s, y, g = got[d["doc_id"]]
        assert (w, s, y) == (words, sentences, syll), d["doc_id"]
        assert abs(g - fk) < 1e-9
        n_checked += 1
    assert n_checked > 0


def test_ann22_matches_python_model(spark):
    """Independent model: numpy signatures + Hamming shortlist + cosine
    rerank, exact tiebreaks — and the recall sanity that the rerank
    output is a subset of the Hamming shortlist."""
    import numpy as np

    from apache_iceberg_spark.operators.similarity import (
        ANN22_CAND,
        N_QUERIES,
        TOP_K,
        ann22_binary_quantization,
    )
    from apache_iceberg_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    rows = load_table(spark, sf, "embeddings").select(
        "vec_id", "embedding"
    ).collect()
    ids = [r["vec_id"] for r in rows]
    embs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in rows}
    sigs = {
        i: tuple(
            sum(1 << b for b in range(32) if embs[i][off + b] > 0)
            for off in (0, 32)
        )
        for i in ids
    }
    got = {}
    for r in ann22_binary_quantization(spark, sf).collect():
        got.setdefault(r["query_id"], []).append(
            (r["neighbor_id"], r["hamming"], r["cosine"])
        )
    for qid in range(N_QUERIES):
        ql, qh = sigs[qid]
        ham = sorted(
            (
                bin((ql ^ sigs[c][0])).count("1")
                + bin((qh ^ sigs[c][1])).count("1"),
                c,
            )
            for c in ids
            if c != qid
        )
        short = ham[:ANN22_CAND]
        def cos(a, b):
            return float(
                embs[a] @ embs[b]
                / (np.linalg.norm(embs[a]) * np.linalg.norm(embs[b]))
            )
        rer = sorted(
            ((c, h) for h, c in short),
            key=lambda t: (-cos(qid, t[0]), t[0]),
        )[:TOP_K]
        want_ids = [c for c, _ in rer]
        got_rows = got[qid]
        assert {g[0] for g in got_rows} == set(want_ids)
        ham_by_id = dict((c, h) for h, c in short)
        for nid, h, csn in got_rows:
            assert h == ham_by_id[nid]
            assert abs(csn - cos(qid, nid)) < 1e-9


def test_w15_matches_python_mad(spark):
    from apache_iceberg_spark.operators.functions_ext import (
        w15_median_abs_deviation,
    )
    from apache_iceberg_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    rows = load_table(spark, sf, "events").select(
        "event_type", "value"
    ).collect()
    by_type: dict[str, list[int]] = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(
            round(r["value"] * 100)
        )

    def lower_median(vals: list[int]) -> int:
        s = sorted(vals)
        n = len(s)
        return (s[(n + 1) // 2 - 1] + s[(n + 2) // 2 - 1]) // 2

    got = {
        r["event_type"]: (r["n"], r["median_cents"], r["mad_cents"])
        for r in w15_median_abs_deviation(spark, sf).collect()
    }
    assert set(got) == set(by_type)
    for t, vals in by_type.items():
        med = lower_median(vals)
        mad = lower_median([abs(v - med) for v in vals])
        assert got[t] == (len(vals), med, mad), t


def test_pp18_consistent_with_pp2b(spark):
    """The crossing count must equal pp2b's ground truth at its budget:
    docs that emit >1 span row ARE the boundary-crossing docs."""
    from apache_iceberg_spark.operators.pipeline import (
        PACK_BUDGET,
        PP18_LENGTHS,
        pp18_packing_efficiency,
    )
    from apache_iceberg_spark.registry import REGISTRY

    assert PACK_BUDGET in PP18_LENGTHS  # the report covers pp2's budget
    sf = "/root/testdata/sf0.001"
    spans = REGISTRY["pp2b_packed_doc_spans"].spark(spark, sf).collect()
    per_doc: dict[int, int] = {}
    for r in spans:
        per_doc[r["doc_id"]] = per_doc.get(r["doc_id"], 0) + 1
    want_crossing = sum(1 for n in per_doc.values() if n > 1)
    rows = {
        r["seq_len"]: r for r in pp18_packing_efficiency(spark, sf).collect()
    }
    got = rows[PACK_BUDGET]
    assert got["crossing_docs"] == want_crossing
    # invariants across lengths
    total = got["total_tokens"]
    for L, r in rows.items():
        assert r["total_tokens"] == total
        assert r["n_sequences"] == -(-total // L)
        assert r["tail_pad_tokens"] == r["n_sequences"] * L - total
        assert 0 <= r["crossing_ppm"] <= 1_000_000
