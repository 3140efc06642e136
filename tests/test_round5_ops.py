"""Round-5 operator tests: dd12's bounded posting fan-out, g1's
one-join-per-iteration plan, g3's convergence fixpoint, dd14's banded
candidate generation, ann10's re-ranked recall.
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F
import pytest

from tests.conftest import REPO_ROOT, SF_DIR


# ---------------------------------------------------------------------------
# dd12 — df-capped containment posting join (VERDICT r4 "What's wrong" #1)
# ---------------------------------------------------------------------------


def test_dd12_posting_fanout_bounded(spark):
    """The pruned inverted index must never emit a gram whose block-level
    document frequency exceeds DD12_DF_CAP — the bound that keeps the
    posting self-join O(n_grams * cap^2) instead of O(sum df^2) on
    Zipfian gram distributions. Adversarial corpus: every document in
    one block shares identical boilerplate text (df = n_docs >> cap)."""
    from apache_iceberg_spark.operators.dedup import (
        DD12_DF_CAP,
        _dd12_capped_posts,
    )

    n_hot = DD12_DF_CAP + 36
    rows = [
        (i, "en", "web", "the quick brown fox jumps over the lazy dog")
        for i in range(n_hot)
    ]
    d = spark.createDataFrame(
        rows, "doc_id long, lang string, source string, text string"
    )
    max_df = (
        _dd12_capped_posts(d)
        .groupBy("lang", "source", "gram")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    # Every gram of the boilerplate corpus has df = n_hot > cap, so the
    # pruned index must be EMPTY (max None) — and in general ≤ cap.
    assert max_df is None or max_df <= DD12_DF_CAP


def test_dd12_rare_gram_containment_survives_cap(spark):
    """Frequency pruning must not lose the true containment pair: a doc
    embedded in a longer one shares its RARE grams, which survive the
    cap even when the block also carries hot boilerplate."""
    from apache_iceberg_spark.operators.dedup import (
        DD12_DF_CAP,
        containment_pairs,
    )

    boiler = "the quick brown fox jumps over the lazy dog"
    inner = "zzqxjv wvkptu mlrtyz"
    rows = [(i, "en", "web", boiler) for i in range(DD12_DF_CAP + 20)]
    rows.append((900, "en", "web", inner))
    rows.append((901, "en", "web", inner + " qqwwee rrttyy uuiioo ppaass"))
    d = spark.createDataFrame(
        rows, "doc_id long, lang string, source string, text string"
    )
    pairs = {
        (r.drop_id, r.keep_id): r.containment
        for r in containment_pairs(d).collect()
    }
    # 900's surviving gram set is fully inside 901's → containment 1.0;
    # 900 is smaller, so it is the victim.
    assert (900, 901) in pairs
    assert pairs[(900, 901)] == pytest.approx(1.0)


# ---------------------------------------------------------------------------
# g1/g3 — PageRank plan shape + convergence (VERDICT r4 ask #3)
# ---------------------------------------------------------------------------


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_g1_one_join_per_iteration(spark):
    """g1's plan must carry exactly ONE shuffled join per power
    iteration that consumes a rank frame (the rank-onto-edges join;
    degrees ride the persisted edge frame via a window, costing no
    join) plus the final supplier projection join: 2 SortMergeJoins
    for the 2-step unrolled plan. The round-4 shape (edges ⋈ deg ⋈
    rank per step) showed 4."""
    from apache_iceberg_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    df = REGISTRY["g1_pagerank"].spark(spark, SF_DIR)
    plan = _physical_plan(df)
    # Join strategy flips between SMJ and broadcast depending on cached
    # statistics, so count ALL join operators except the base
    # lineitem ⋈ orders fact join (identified by its l_orderkey key,
    # repeated once per cached-lineage occurrence): the unrolled 2-step
    # plan may carry at most 2 others — step 2's rank join + the final
    # supplier projection. The round-4 shape (edges ⋈ deg ⋈ rank per
    # step) carried 4.
    iter_joins = [
        line
        for line in plan.splitlines()
        if re.search(r"\bJoin\b", line) and "l_orderkey" not in line
    ]
    assert len(iter_joins) <= 2, plan
    # Degree annotation is a window over the edge shuffle, present once
    # per cached-lineage occurrence, never a join.
    assert "Window [count(1)" in plan


def test_g3_matches_unrolled_prefix_and_reaches_fixpoint(spark):
    """g3's converged ranks must (a) agree with manually unrolling the
    SAME number of power steps (the loop adds no arithmetic of its own)
    and (b) satisfy the fixpoint property: one FURTHER power step moves
    no node beyond the convergence tolerance."""
    from apache_iceberg_spark.operators.graph import (
        G3_REL_DIV,
        G3_TOL_MICRO,
        _power_step,
        _trade_edges_with_deg,
        g3_pagerank_converged,
    )

    converged = {
        r.l_suppkey: r.rank_micro
        for r in g3_pagerank_converged(spark, SF_DIR).collect()
    }
    assert converged  # non-trivial graph at sf0.001

    edges_deg = _trade_edges_with_deg(spark, SF_DIR)
    # Lineage-cut every round: 40+ nested power-step plans without a
    # checkpoint overflow Catalyst's planner stack (the exact failure
    # g3's own loop guards against with _G3_CKPT_EVERY).
    rank = _power_step(edges_deg, None).localCheckpoint()
    seen = {}
    for _ in range(60):
        seen = {
            (r.kind, r.node): r.rank_micro
            for r in rank.collect()
        }
        sup = {n: v for (k, n), v in seen.items() if k == "s"}
        if sup == converged:
            break
        rank = _power_step(edges_deg, rank).localCheckpoint()
    assert sup == converged, "g3 diverged from the unrolled power steps"

    stepped = {
        (r.kind, r.node): r.rank_micro
        for r in _power_step(edges_deg, rank).collect()
    }
    for key, new_v in stepped.items():
        old_v = seen[key]
        assert abs(new_v - old_v) <= max(old_v // G3_REL_DIV, G3_TOL_MICRO)


# ---------------------------------------------------------------------------
# ann10 — exact re-ranking recall (VERDICT r4 ask #6)
# ---------------------------------------------------------------------------


def test_ann10_rerank_improves_recall(spark):
    """ann8's recall methodology applied to the re-ranker: against the
    exact cosine ground truth (ann1), re-ranking ann9's ADC candidates
    with exact cosine must strictly improve recall@10 (0.20 -> 0.32 on
    the sf0.01 fixture — deterministic: same data, same plans)."""
    from apache_iceberg_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    sf = "/root/testdata/sf0.01"
    exact = {
        (r.query_id, r.neighbor_id)
        for r in REGISTRY["ann1_cosine_topk"].spark(spark, sf).collect()
    }
    adc = {
        (r.query_id, r.neighbor_id)
        for r in REGISTRY["ann9_ivf_pq"].spark(spark, sf).collect()
    }
    rerank = {
        (r.query_id, r.neighbor_id)
        for r in REGISTRY["ann10_ivf_pq_rerank"].spark(spark, sf).collect()
    }
    r_adc = len(exact & adc) / len(exact)
    r_rerank = len(exact & rerank) / len(exact)
    assert r_rerank > r_adc, (r_adc, r_rerank)


def test_ann10_is_subset_of_adc_candidates(spark):
    """The re-ranker may only reorder/refine — every returned neighbor
    must come from ann9's ADC candidate pool (top RERANK_R per query),
    never from outside the probed cells."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from apache_iceberg_spark.operators.similarity import (
        RERANK_R,
        _ivf_pq_adc_frame,
    )
    from apache_iceberg_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    _, adc = _ivf_pq_adc_frame(spark, SF_DIR)
    w = Window.partitionBy("query_id").orderBy("adc2_micro", "neighbor_id")
    cand = {
        (r.query_id, r.neighbor_id)
        for r in adc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= RERANK_R)
        .collect()
    }
    rerank = {
        (r.query_id, r.neighbor_id)
        for r in REGISTRY["ann10_ivf_pq_rerank"].spark(spark, SF_DIR).collect()
    }
    assert rerank <= cand


# ---------------------------------------------------------------------------
# orphan cleanup safety window (ADVICE r4 #2)
# ---------------------------------------------------------------------------


def test_orphan_cleanup_respects_older_than_window(spark, tmp_path):
    """remove_orphan_dirs(older_than_ms=...) must NOT delete an
    unreferenced directory whose mtime is at/after the cutoff — the
    guard that makes the procedure safe next to an in-flight commit —
    and must still delete it once the cutoff passes."""
    import time

    from apache_iceberg_spark.catalog.snapshots import (
        commit_snapshot,
        remove_orphan_dirs,
    )

    table = str(tmp_path / "t")
    df = spark.createDataFrame([(1,)], "id long")
    commit_snapshot(df, table)
    orphan = tmp_path / "t" / "d999"
    orphan.mkdir()
    (orphan / "part-0.parquet").write_bytes(b"x")

    now_ms = int(time.time() * 1000)
    # Cutoff in the past: the freshly-written dir is NEWER -> spared.
    assert remove_orphan_dirs(table, older_than_ms=now_ms - 60_000) == []
    assert orphan.exists()
    # Cutoff in the future: dir is older than it -> removed.
    removed = remove_orphan_dirs(table, older_than_ms=now_ms + 60_000)
    assert [str(orphan)] == removed
    assert not orphan.exists()


# ---------------------------------------------------------------------------
# dd15/st12 — incremental dedup consistency
# ---------------------------------------------------------------------------


def _dd15_split(spark):
    from apache_iceberg_spark.operators.dedup import (
        DD15_BATCH_DEN,
        DD15_BATCH_NUM,
    )
    from apache_iceberg_spark.tables import load_table

    d = load_table(spark, SF_DIR, "documents")
    return int(
        d.agg(
            F.expr(f"(MAX(doc_id) * {DD15_BATCH_NUM}) DIV {DD15_BATCH_DEN}")
        ).first()[0]
    )


def test_dd15_equals_full_dedup_restricted_to_batch(spark):
    """The incremental path must find EXACTLY the full dd2 pair set
    restricted to pairs touching the batch — probing the index loses
    nothing (banding is deterministic, so batch docs land in the same
    buckets either way)."""
    from apache_iceberg_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    t0 = _dd15_split(spark)
    full = {
        (r.doc_id_a, r.doc_id_b): r.jaccard
        for r in REGISTRY["dd2_minhash_lsh"].spark(spark, SF_DIR).collect()
        if r.doc_id_b >= t0
    }
    inc = {
        (r.doc_id_a, r.doc_id_b): r.jaccard
        for r in REGISTRY["dd15_incremental_dedup"]
        .spark(spark, SF_DIR)
        .collect()
    }
    assert inc == full


def test_st12_equals_dd15_minus_batch_batch_pairs(spark):
    """The streaming probe detects exactly dd15's pairs whose a-side is
    in the INDEX (stream-vs-stream pairs are documented out of scope)."""
    from apache_iceberg_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    t0 = _dd15_split(spark)
    batch_vs_index = {
        (r.doc_id_a, r.doc_id_b): r.jaccard
        for r in REGISTRY["dd15_incremental_dedup"]
        .spark(spark, SF_DIR)
        .collect()
        if r.doc_id_a < t0
    }
    streamed = {
        (r.doc_id_a, r.doc_id_b): r.jaccard
        for r in REGISTRY["st12_stream_incremental_dedup"]
        .spark(spark, SF_DIR)
        .collect()
    }
    assert streamed == batch_vs_index


def test_quickstart_example_runs(spark, tmp_path):
    """examples/quickstart.py — the reference-user migration demo — must
    run end-to-end: ingest lands the normalized+pluralized table, the
    flagship query answers, and both export artifacts exist."""
    import os
    import sys

    sys.path.insert(0, str(REPO_ROOT / "examples"))
    import quickstart

    res = quickstart.main(str(tmp_path))
    assert res["table"] == "demo.user_events"
    assert res["top"][0][0] == "Seattle"
    assert os.path.isfile(res["csv_artifact"])
    assert os.path.isfile(res["parquet_artifact"])


# ---------------------------------------------------------------------------
# pp2b/pp10 span math — tiling invariants
# ---------------------------------------------------------------------------


def test_pp2b_spans_tile_documents_and_sequences(spark):
    """pp2b's (seq_id, doc_id, slice_start, slice_len, seq_offset) rows
    must exactly tile BOTH sides of the packing: per document, the
    slices cover [0, n_toks) contiguously in seq order; per sequence,
    the occupied offsets cover [0, budget) contiguously except the final
    (partial) sequence. The same math backs pp10's output stage."""
    import collections

    from apache_iceberg_spark.operators.pipeline import PACK_BUDGET
    from apache_iceberg_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    rows = REGISTRY["pp2b_packed_doc_spans"].spark(spark, SF_DIR).collect()
    assert rows

    by_doc = collections.defaultdict(list)
    by_seq = collections.defaultdict(list)
    for r in rows:
        assert 0 < r.slice_len <= PACK_BUDGET
        assert 0 <= r.seq_offset < PACK_BUDGET
        by_doc[r.doc_id].append(r)
        by_seq[r.seq_id].append(r)

    for doc_id, spans in by_doc.items():
        spans.sort(key=lambda r: r.seq_id)
        pos = 0
        for s in spans:
            assert s.slice_start == pos, (doc_id, s)
            pos += s.slice_len
        # interior spans end exactly at a budget boundary
        for s in spans[:-1]:
            assert (s.seq_offset + s.slice_len) == PACK_BUDGET, (doc_id, s)

    last_seq = max(by_seq)
    for seq_id, spans in by_seq.items():
        spans.sort(key=lambda r: r.seq_offset)
        pos = 0
        for s in spans:
            assert s.seq_offset == pos, (seq_id, s)
            pos += s.slice_len
        if seq_id != last_seq:
            assert pos == PACK_BUDGET, (seq_id, pos)


def test_mm8_vote_matches_bruteforce(spark):
    """mm8's banded frame-vote must equal the brute-force all-pairs
    computation on the fixture (pigeonhole keeps per-frame banding
    lossless, so the counts are exact, not approximate)."""
    from apache_iceberg_spark.operators.pipeline import (
        _MM8_MIN_LEN,
        DHASH_BITS,
        MM6_HAMMING_MAX,
        MM8_FRAMES,
    )
    from apache_iceberg_spark.registry import REGISTRY, _ensure_loaded
    from apache_iceberg_spark.tables import load_table

    _ensure_loaded()

    def dhash(payload: str) -> int:
        n = len(payload)
        v = [
            ord(payload[int(k * n / (DHASH_BITS + 1))])
            for k in range(DHASH_BITS + 1)
        ]
        return sum(1 << k for k in range(DHASH_BITS) if v[k] > v[k + 1])

    docs = {
        r.doc_id: r.text
        for r in load_table(spark, SF_DIR, "documents").collect()
        if r.text is not None and len(r.text) >= _MM8_MIN_LEN
    }
    frames = {}
    for doc_id, text in docs.items():
        qlen = len(text) // MM8_FRAMES
        frames[doc_id] = [
            dhash(text[f * qlen : (f + 1) * qlen]) for f in range(MM8_FRAMES)
        ]
    expected = {}
    ids = sorted(frames)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            n = sum(
                1
                for f in range(MM8_FRAMES)
                if bin(frames[a][f] ^ frames[b][f]).count("1")
                <= MM6_HAMMING_MAX
            )
            if n:
                expected[(a, b)] = n

    got = {
        (r.doc_id_a, r.doc_id_b): r.n_frames_matched
        for r in REGISTRY["mm8_video_neardup_pairs"].spark(spark, SF_DIR).collect()
    }
    assert got == expected


def test_g3_distributed_branch_matches_driver_branch(spark, monkeypatch):
    """Force the node cutover to 0 so g3 runs its DISTRIBUTED rounds
    (shuffled joins, per-round persists, periodic lineage cuts) and
    assert it converges to the same supplier ranks as the driver-hosted
    small-graph branch — the two loops are alternative executions of
    one arithmetic."""
    from apache_iceberg_spark.operators import graph

    small = {
        r.l_suppkey: (r.rank_micro, r.n_links)
        for r in graph.g3_pagerank_converged(spark, SF_DIR).collect()
    }
    monkeypatch.setattr(graph, "G3_DRIVER_NODES", 0)
    dist = {
        r.l_suppkey: (r.rank_micro, r.n_links)
        for r in graph.g3_pagerank_converged(spark, SF_DIR).collect()
    }
    assert dist == small


def test_cc_pregel_branch_matches_driver_union_find(spark, monkeypatch):
    """Force min_label_components' edge cutover to 0 so dd6's clustering
    runs the DISTRIBUTED Pregel branch (pointer-jumped min-label
    propagation, lineage cuts) and assert it labels every node exactly
    like the driver union-find branch."""
    from apache_iceberg_spark.operators import dedup
    from apache_iceberg_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    small = {
        (r.doc_id, r.cluster_id)
        for r in REGISTRY["dd6_dup_clusters"].spark(spark, SF_DIR).collect()
    }
    monkeypatch.setattr(dedup, "_CC_DRIVER_EDGES", 0)
    pregel = {
        (r.doc_id, r.cluster_id)
        for r in REGISTRY["dd6_dup_clusters"].spark(spark, SF_DIR).collect()
    }
    assert pregel == small
