"""Round-15 operators: delete-file pruning on MoR reads (m56, VERDICT
r14 ask #1) with the resurrection-safety proofs, the compaction policy
planner (m59), SET-clause partial-column MERGE updates (m57, ask #4),
views at refs + the rename dangling-view guard (m58, ask #6 + ADVICE
r14), and the ADVICE r14 correctness fixes (expiry stats scope,
empty-plan guard, needed-dirs dedup, a51 dof clamp).
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from apache_iceberg_spark.catalog.snapshots import (
    _by_version,
    _read_log,
    _read_mor,
    _needed_dirs,
    _resolve,
    commit_append,
    commit_snapshot,
    compact_mor,
    expire_snapshots_dirs,
    merge_into,
    mor_maintenance_plan,
    read_pruned,
    read_pruned_detail,
    read_ref,
    read_snapshot_dirs,
    rollback_to,
)
from apache_iceberg_spark.catalog.workspace import (
    ws_commit,
    ws_create_tag,
    ws_create_view,
    ws_read_at,
    ws_rename_table,
)
from tests.conftest import fresh_dir


def _table(tmp_path, prefix="r15_"):
    """A fresh table path under ``tmp_path`` (numbered: loops reuse a
    prefix)."""
    n = len(os.listdir(tmp_path))
    return os.path.join(fresh_dir(tmp_path, f"{prefix}{n}"), "t")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _kv(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("val")
    )


@pytest.fixture()
def pruned_mor_table(spark, tmp_path):
    """Three key-range chunks [0,100) [100,200) [200,300) committed
    WITH k-stats, plus a stats-carrying delete of {200..209} and a
    STAT-LESS delete of {150..154}."""
    t = _table(tmp_path, "prune15_")
    commit_snapshot(_kv(spark, 0, 100), t, stats_cols=["k"])
    commit_append(_kv(spark, 100, 200), t, stats_cols=["k"])
    commit_append(_kv(spark, 200, 300), t, stats_cols=["k"])
    merge_into(
        spark, t, _kv(spark, 200, 210), on=["k"],
        when_matched="delete", when_not_matched="ignore", strategy="mor",
    )
    merge_into(
        spark, t, _kv(spark, 150, 155), on=["k"],
        when_matched="delete", when_not_matched="ignore", strategy="mor",
        del_stats=False,
    )
    return t


def test_delete_pruned_read_bitwise_equals_unpruned(spark, pruned_mor_table):
    """The VERDICT done-criterion: a read that prunes both data dirs AND
    delete files is bitwise-equal to the unpruned scan + row filter."""
    full = read_snapshot_dirs(spark, pruned_mor_table)
    for lo, hi in [(0, 99), (100, 199), (200, 299), (0, 299), (140, 260)]:
        df, detail = read_pruned_detail(
            spark, pruned_mor_table, "k", lo, hi
        )
        want = _rows(full.filter((F.col("k") >= lo) & (F.col("k") <= hi)))
        assert _rows(df) == want, (lo, hi, detail)


def test_delete_file_predicate_proof_prunes(spark, pruned_mor_table):
    """Scan of the low chunk: the stats delete ({200..209}) is disjoint
    from [0, 99] on the key column -> pruned; the stat-less delete must
    still be applied (conservative)."""
    _df, d = read_pruned_detail(spark, pruned_mor_table, "k", 0, 99)
    assert d["data_scanned"] == 1 and d["data_pruned"] == 2
    assert d["dels_pruned"] == 1  # the stats-carrying delete
    assert d["dels_applied"] == 1  # the stat-less delete, always applied


def test_statless_delete_always_applied(spark, pruned_mor_table):
    """The conservative case: every probe that keeps at least one
    earlier data dir applies the stat-less delete file."""
    for lo, hi in [(0, 99), (100, 199), (200, 299)]:
        _df, d = read_pruned_detail(spark, pruned_mor_table, "k", lo, hi)
        assert d["dels_applied"] >= 1, (lo, hi, d)
    # and it actually removes its rows where they live
    df, _ = read_pruned_detail(spark, pruned_mor_table, "k", 100, 199)
    ks = {r["k"] for r in df.collect()}
    assert ks == set(range(100, 200)) - set(range(150, 155))


def test_delete_data_range_proof(spark, tmp_path):
    """Rule-3 (data-range) proof: the delete's key range overlaps the
    SCAN range but is disjoint from every surviving dir's committed
    range (the merge deleted keys that were never ingested) -> the
    delete file is pruned even though the predicate can't prove it."""
    t = _table(tmp_path, "rng15_")
    commit_snapshot(_kv(spark, 0, 100), t, stats_cols=["k"])
    merge_into(
        spark, t, _kv(spark, 500, 510), on=["k"],
        when_matched="delete", when_not_matched="ignore", strategy="mor",
    )
    # scan range [0, 1000] overlaps the delete range [500, 509], but the
    # only data dir's range [0, 99] is disjoint from it.
    df, d = read_pruned_detail(spark, t, "k", 0, 1000)
    assert d["dels_pruned"] == 1 and d["dels_applied"] == 0
    assert df.count() == 100


def test_delete_sequence_proof(spark, tmp_path):
    """Rule-1 (sequence) proof: when every surviving data dir is NEWER
    than the delete file, it can't match anything in the scan — even
    stat-less deletes prune."""
    t = _table(tmp_path, "seq15_")
    commit_snapshot(_kv(spark, 0, 100), t, stats_cols=["k"])
    merge_into(
        spark, t, _kv(spark, 0, 1000), on=["k"],
        when_matched="delete", when_not_matched="ignore", strategy="mor",
        del_stats=False,
    )
    commit_append(_kv(spark, 300, 400), t, stats_cols=["k"])
    # the probe prunes the v1 dir ([0,99] disjoint from [300,399]); the
    # only survivor (v3) postdates the delete (v2) -> sequence proof.
    df, d = read_pruned_detail(spark, t, "k", 300, 399)
    assert d["data_scanned"] == 1 and d["data_pruned"] == 1
    assert d["dels_pruned"] == 1 and d["dels_applied"] == 0
    assert df.count() == 100


def test_all_data_pruned_returns_typed_empty_frame(spark, pruned_mor_table):
    """ADVICE r14: a predicate outside every dir's range used to
    IndexError inside _read_mor; now it returns an empty frame with the
    table schema, and outstanding deletes are reported as pruned."""
    df, d = read_pruned_detail(spark, pruned_mor_table, "k", 10_000, 20_000)
    assert df.count() == 0
    assert set(df.columns) == {"k", "val"}
    assert d["data_scanned"] == 0 and d["data_pruned"] == 3
    assert d["dels_applied"] == 0 and d["dels_pruned"] == 2
    # read_pruned's 3-tuple contract unchanged
    df2, n_scanned, n_pruned = read_pruned(
        spark, pruned_mor_table, "k", 10_000, 20_000
    )
    assert (n_scanned, n_pruned) == (0, 3) and df2.count() == 0


def test_read_mor_raises_on_empty_plan(spark):
    with pytest.raises(ValueError, match="no data directories"):
        _read_mor(spark, [], [("whatever", ("k",), 2, {})])


def test_expiry_materialization_drops_entry_stats(spark, tmp_path):
    """The ADVICE r14 medium: an expiry-materialized delta entry used to
    KEEP its own 'stats' key, which the resolver then applied to every
    inherited ancestor dir — read_pruned could silently drop the
    ancestor's rows. The ancestor's rows must survive a probe whose
    range lies outside the delta's stats."""
    t = _table(tmp_path, "exp15_")
    commit_snapshot(_kv(spark, 0, 100), t)  # ancestor WITHOUT stats
    commit_append(_kv(spark, 5000, 5100), t, stats_cols=["k"])
    time.sleep(0.01)
    cutoff = int(time.time() * 1000) + 60_000
    expired = expire_snapshots_dirs(t, cutoff, keep_last=1)
    assert expired == [1]
    entry = _read_log(t)[-1]
    assert "stats" not in entry, "materialized entry kept delta-scoped stats"
    # probe far below the delta's [5000, 5099]: the stat-less ancestor
    # dir must still be scanned and its rows returned
    df, d = read_pruned_detail(spark, t, "k", 0, 99)
    assert df.count() == 100
    assert d["data_scanned"] >= 1


def test_materialization_preserves_per_dir_stats(spark, tmp_path):
    """Rollback materialization keeps each dir's OWN stats (per-item
    stats), so value-range skipping survives the flatten instead of
    degrading to full scans — and never misapplies a neighbor's range."""
    t = _table(tmp_path, "mat15_")
    commit_snapshot(_kv(spark, 0, 100), t, stats_cols=["k"])
    commit_append(_kv(spark, 100, 200), t, stats_cols=["k"])
    merge_into(  # make the history MoR so the flatten carries dels
        spark, t, _kv(spark, 0, 5), on=["k"],
        when_matched="delete", when_not_matched="ignore", strategy="mor",
    )
    v = rollback_to(t, 3)
    by_v = _by_version(_read_log(t))
    data, dels = _resolve(by_v, v)
    stats = {s.get("k") and tuple(s["k"]) for _p, _v, s in data}
    assert (0, 99) in stats and (100, 199) in stats
    _df, d = read_pruned_detail(spark, t, "k", 150, 199)
    assert d["data_pruned"] == 1 and d["data_scanned"] == 1


def test_resolve_paths_dedups_update_delta(spark, tmp_path):
    """ADVICE r14: an update-strategy MoR commit's delta dir doubles as
    its delete file; the needed-dirs list must name it once."""
    t = _table(tmp_path, "dedup15_")
    commit_snapshot(_kv(spark, 0, 100), t)
    merge_into(spark, t, _kv(spark, 50, 150), on=["k"], strategy="mor")
    by_v = _by_version(_read_log(t))
    paths = _needed_dirs(*_resolve(by_v, max(by_v)))
    assert len(paths) == len(set(paths))
    assert len(paths) == 2  # seed dir + the dual-role delta dir


def test_update_set_cow_equals_mor(spark, tmp_path):
    """SET-clause subset update: identical result under both write
    strategies, expression sees both sides, unlisted columns keep the
    target value."""
    target = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b"), (3, 30, "c")], "k long, v long, tag string"
    )
    source = spark.createDataFrame(
        [(2, 5, "x"), (4, 40, "y")], "k long, v long, tag string"
    )
    outs = {}
    for strat in ("cow", "mor"):
        t = _table(tmp_path, f"set15_{strat}_")
        commit_snapshot(target, t)
        merge_into(
            spark, t, source, on=["k"], strategy=strat,
            update_set={"v": "target.v + source.v"},
        )
        outs[strat] = _rows(read_ref(spark, t, "main"))
    want = sorted(
        [(1, 10, "a"), (2, 25, "b"), (3, 30, "c"), (4, 40, "y")]
    )
    assert outs["cow"] == want
    assert outs["mor"] == want


def test_update_set_ignore_inserts(spark, tmp_path):
    target = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    source = spark.createDataFrame([(2, 1), (9, 9)], "k long, v long")
    for strat in ("cow", "mor"):
        t = _table(tmp_path, f"seti15_{strat}_")
        commit_snapshot(target, t)
        merge_into(
            spark, t, source, on=["k"], strategy=strat,
            when_not_matched="ignore",
            update_set={"v": "source.v * 100 + target.v"},
        )
        assert _rows(read_ref(spark, t, "main")) == [(1, 10), (2, 120)]


def test_update_set_guards(spark, tmp_path):
    t = _table(tmp_path, "setg15_")
    commit_snapshot(spark.createDataFrame([(1, 10)], "k long, v long"), t)
    src = spark.createDataFrame([(1, 5)], "k long, v long")
    with pytest.raises(ValueError, match="merge-key"):
        merge_into(spark, t, src, on=["k"], update_set={"k": "source.k + 1"})
    with pytest.raises(ValueError, match="not a target column"):
        merge_into(spark, t, src, on=["k"], update_set={"zz": "1"})
    with pytest.raises(ValueError, match="when_matched"):
        merge_into(
            spark, t, src, on=["k"], when_matched="delete",
            update_set={"v": "1"},
        )


def test_rename_dangling_view_guard(spark, tmp_path):
    """ADVICE r14: rename raises naming dependent views; force=True
    allows (views dangle at head, still resolve at pre-rename refs)."""
    ws = fresh_dir(tmp_path, "ws15")
    ws_commit(ws, {"sales": _kv(spark, 0, 10)})
    ws_create_view(ws, "big_sales", "SELECT * FROM sales WHERE val > 50")
    with pytest.raises(ValueError, match="big_sales"):
        ws_rename_table(ws, "sales", "revenue")
    ws_create_tag(ws, "pre")
    ws_rename_table(ws, "sales", "revenue", force=True)
    # view resolves at the pre-rename tag via the @ref address...
    assert ws_read_at(spark, ws, "big_sales@pre").count() == 4
    # ...and dangles at head (documented force behavior)
    with pytest.raises(Exception):
        ws_read_at(spark, ws, "big_sales@main").count()


def test_ws_read_at_dispatches_views_and_tables(spark, tmp_path):
    ws = fresh_dir(tmp_path, "ws15b")
    ws_commit(ws, {"sales": _kv(spark, 0, 10)})
    ws_create_view(ws, "doubled", "SELECT k, val * 2 AS val FROM sales")
    assert ws_read_at(spark, ws, "sales@main").count() == 10
    got = {r["val"] for r in ws_read_at(spark, ws, "doubled@main").collect()}
    assert got == {i * 20 for i in range(10)}


def test_mor_maintenance_plan_decision_flip(spark, pruned_mor_table):
    before = mor_maintenance_plan(pruned_mor_table, debt_threshold=2)
    assert before["debt"] == 2 and before["statless_dels"] == 1
    # stats delete overlaps only its own chunk (1 of 3); stat-less
    # charges all 3 earlier dirs
    assert before["overlap_pairs"] == 4
    assert before["applicable_pairs"] == 6
    assert before["decision"] == "compact"
    compact_mor(spark, pruned_mor_table)
    after = mor_maintenance_plan(pruned_mor_table, debt_threshold=2)
    assert after["debt"] == 0 and after["decision"] == "hold"


def test_mor_maintenance_plan_overlap_budget(spark, pruned_mor_table):
    """High debt threshold + tight overlap budget: the OVERLAP gauge
    alone triggers compaction."""
    plan = mor_maintenance_plan(
        pruned_mor_table, debt_threshold=99, overlap_budget=3
    )
    assert plan["decision"] == "compact"
    plan = mor_maintenance_plan(
        pruned_mor_table, debt_threshold=99, overlap_budget=4
    )
    assert plan["decision"] == "hold"


def test_a51_degenerate_dof_no_crash(spark, tmp_path):
    """ADVICE r14: a single-event-type table has dof = 0; the clamp
    must yield a row (g == 0 there) instead of a divide-by-zero."""
    import apache_iceberg_spark.operators.analytics  # noqa: F401
    from apache_iceberg_spark.registry import REGISTRY

    sf = fresh_dir(tmp_path, "a51deg")
    spark.createDataFrame(
        [("click", f"2024-01-0{d} 10:00:00") for d in range(1, 8)],
        "event_type string, ts_s string",
    ).select("event_type", F.col("ts_s").cast("timestamp").alias("ts")) \
        .write.parquet(os.path.join(sf, "events.parquet"))
    row = REGISTRY["a51_g_test"].spark(spark, sf).first()
    assert row["dof"] == 0
    assert row["g_per_dof_micro"] == 0


def test_conditional_merge_matrix_cow_equals_mor(spark, tmp_path):
    """WHEN MATCHED AND <cond>: update/delete actions, with and
    without SET clauses, identical under both strategies; gated rows
    keep target values."""
    target = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b"), (3, 30, "c")],
        "k long, v long, tag string",
    )
    source = spark.createDataFrame(
        [(1, 99, "x"), (2, 5, "y"), (7, 70, "z")],
        "k long, v long, tag string",
    )
    cases = [
        (dict(matched_condition="source.v > target.v"),
         [(1, 99, "x"), (2, 20, "b"), (3, 30, "c"), (7, 70, "z")]),
        (dict(when_matched="delete", when_not_matched="ignore",
              matched_condition="source.tag = 'y'"),
         [(1, 10, "a"), (3, 30, "c")]),
        (dict(update_set={"v": "target.v + source.v"},
              matched_condition="source.v > target.v"),
         [(1, 109, "a"), (2, 20, "b"), (3, 30, "c"), (7, 70, "z")]),
        (dict(when_matched="delete",
              matched_condition="source.v > target.v"),
         [(2, 20, "b"), (3, 30, "c"), (7, 70, "z")]),
    ]
    for kwargs, want in cases:
        for strat in ("cow", "mor"):
            t = _table(tmp_path, f"cond15_{strat}_")
            commit_snapshot(target, t)
            merge_into(spark, t, source, on=["k"], strategy=strat, **kwargs)
            got = _rows(read_ref(spark, t, "main"))
            assert got == sorted(want), (strat, kwargs, got)


def test_conditional_merge_null_condition_keeps_target(spark, tmp_path):
    """A NULL condition must behave as false (SQL clause rule): the
    matched row keeps its target values, on both strategies."""
    target = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    source = spark.createDataFrame(
        [(1, None), (2, 99)], "k long, v long"
    )
    for strat in ("cow", "mor"):
        t = _table(tmp_path, f"condnull15_{strat}_")
        commit_snapshot(target, t)
        merge_into(
            spark, t, source, on=["k"], strategy=strat,
            when_not_matched="ignore",
            matched_condition="source.v > target.v",
        )
        assert _rows(read_ref(spark, t, "main")) == [(1, 10), (2, 99)]


def test_conditional_mor_deletes_only_gated_keys(spark, tmp_path):
    """The MoR delete-key file must cover ONLY condition-true matched
    keys — an untouched matched row deleted-by-key would vanish from
    the anti-join read."""
    from apache_iceberg_spark.catalog.snapshots import mor_changes

    target = _kv(spark, 0, 10)
    source = _kv(spark, 5, 15)  # matched: 5..9
    t = _table(tmp_path, "condkeys15_")
    commit_snapshot(target, t)
    v = merge_into(
        spark, t, source, on=["k"], strategy="mor",
        when_matched="delete", when_not_matched="ignore",
        matched_condition="source.k % 2 = 0",  # gate: 6, 8 only
    )
    _ins, delk, _on = mor_changes(spark, t, v)
    assert {r["k"] for r in delk.collect()} == {6, 8}
    assert {r["k"] for r in read_ref(spark, t, "main").collect()} == (
        set(range(10)) - {6, 8}
    )


def test_st37_guard_is_load_bearing(spark, tmp_path):
    """Under st37's adversarial (hash-bucketed, time-interleaved)
    arrival order, the UNGUARDED merge must disagree with the guarded
    one — proving the matched_condition is what makes out-of-order CDC
    correct, and that the fixture actually delivers out of order."""
    import apache_iceberg_spark.streaming.events as ev
    from apache_iceberg_spark.registry import REGISTRY

    sf = "/root/testdata/sf0.001"
    guarded = {
        (r["user_id"], r["last_cents"], r["last_us"])
        for r in REGISTRY["st37_stream_guarded_cdc"]
        .spark(spark, sf)
        .collect()
    }
    # replay the same bucket files through an unguarded merge
    e = ev.load_table(spark, sf, "events").select(
        "user_id",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.unix_micros("ts").alias("us"),
    )
    lo, hi = e.agg(F.min("us"), F.max("us")).first()
    t_mid = (int(lo) + int(hi)) // 2
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.desc("us"), F.desc("event_id")
    )

    def latest(df):
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", "event_id", "cents", "us")
        )

    base = fresh_dir(tmp_path, "st37un")
    table = os.path.join(base, "t")
    commit_snapshot(latest(e.filter(F.col("us") <= t_mid)), table)
    src_dir = os.path.join(base, "src")
    ev._write_shuffled_bucket_files(
        e.filter(F.col("us") > t_mid), "event_id", 3, src_dir
    )
    import glob as _glob

    for f in sorted(_glob.glob(os.path.join(src_dir, "b*.parquet"))):
        merge_into(
            spark,
            table,
            latest(spark.read.parquet(f)),
            on=["user_id"],
            strategy="mor",
            check_unique=False,  # unguarded: plain last-writer-wins
        )
    unguarded = {
        (r["user_id"], r["cents"], r["us"])
        for r in read_ref(spark, table, "main").collect()
    }
    assert guarded != unguarded, (
        "arrival order was not adversarial — the guard proved nothing"
    )
    # and the guarded result IS the global latest
    want = {
        (r["user_id"], r["cents"], r["us"])
        for r in latest(e).select("user_id", "cents", "us").collect()
    }
    assert guarded == want


def test_merge_schema_evolution(spark, tmp_path):
    """merge_schema=True: a source with a NEW column evolves the table
    additively on BOTH strategies (pre-evolution rows read NULL);
    without the flag the drift raises with both schemas named, and the
    two strategies agree on rejecting it (CoW used to fail deep in the
    union analyzer while MoR silently evolved)."""
    target = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    source = spark.createDataFrame(
        [(2, 25, "eu"), (3, 30, "us")], "k long, v long, region string"
    )
    for strat in ("cow", "mor"):
        t = _table(tmp_path, f"evo15_{strat}_")
        commit_snapshot(target, t)
        with pytest.raises(ValueError, match="merge_schema"):
            merge_into(spark, t, source, on=["k"], strategy=strat)
        merge_into(
            spark, t, source, on=["k"], strategy=strat, merge_schema=True
        )
        got = _rows(read_ref(spark, t, "main"))
        assert got == [(1, 10, None), (2, 25, "eu"), (3, 30, "us")], (
            strat, got,
        )


def test_merge_schema_guards(spark, tmp_path):
    """merge_schema composes only with the plain paths; a SET-clause
    partial-payload source stays legitimate WITHOUT the flag when it
    cannot land source-shaped rows (ignore-inserts)."""
    t = _table(tmp_path, "evog15_")
    commit_snapshot(
        spark.createDataFrame([(1, 10, "a")], "k long, v long, tag string"), t
    )
    partial = spark.createDataFrame([(1, 5)], "k long, bump long")
    # SET-clause + ignore: partial payload fine without merge_schema
    merge_into(
        spark, t, partial, on=["k"], when_not_matched="ignore",
        update_set={"v": "target.v + source.bump"},
    )
    assert _rows(read_ref(spark, t, "main")) == [(1, 15, "a")]
    # but merge_schema + SET-clause is ambiguous -> raise
    with pytest.raises(ValueError, match="plain"):
        merge_into(
            spark, t, partial, on=["k"], when_not_matched="ignore",
            update_set={"v": "target.v + source.bump"}, merge_schema=True,
        )
    # and SET-clause WITH inserts needs full source shape
    with pytest.raises(ValueError, match="schema differs"):
        merge_into(
            spark, t, partial, on=["k"],
            update_set={"v": "target.v + source.bump"},
        )
